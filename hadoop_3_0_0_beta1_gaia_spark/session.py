"""SparkSession factory + table registry.

Maps the reference's job-submission machinery (Job.waitForCompletion →
YARN/MRAppMaster, SURVEY §3.1) onto a single SparkSession: Catalyst is the
planner the reference never had, and the scale knobs below are the analog of
``io.sort.mb`` / ``dfs.blocksize`` / slowstart tuning
(reference: hadoop-mapreduce-client-core .../mapred/MapTask.java:885-1009,
hdfs-default.xml dfs.blocksize=128MB).

100 TB posture (tested on local[32], designed for a 1000-executor cluster):
- AQE on: runtime coalescing of post-shuffle partitions + skew-join splitting
  replaces hand-tuned reducer counts.
- shuffle.partitions default kept moderate locally; on a real cluster set it
  ~2-3x total cores or rely on AQE's initialPartitionNum. Batch queries let
  AQE coalesce it down to the data size. Streaming is the path AQE cannot
  coalesce: a stateful query fixes its state-partition count when it starts
  and pays one state-store task per partition on every micro-batch, so
  ``streaming.events.run_to_memory`` starts each drain with
  min(shuffle.partitions, defaultParallelism) partitions and leaves the
  session value as it was.
- maxPartitionBytes=128m mirrors the reference's HDFS block-sized splits
  (FileInputFormat.getSplits, LIB/input/FileInputFormat.java:386-444).
- autoBroadcastJoinThreshold raised: every dimension table of the star schema
  (region/nation/customer/supplier/part at sane SFs) should broadcast — the
  reference's DistributedCache replicated-join idiom, now automatic.

Fixed cost of a small pass (Hadoop's uber-job regime, JobImpl.makeUberDecision):
- Python workers run the engine's own daemon module (``pydaemon``, set as
  ``spark.python.daemon.module``). Each task calls
  ``importlib.invalidate_caches()``, which on CPython < 3.13 re-reads
  ``pyspark.zip``'s directory once per zipimporter (~16 per worker, ~230 ms
  of CPU per task); the daemon re-reads an archive only when it changed,
  imports pandas and pyarrow, then runs the stock ``pyspark.daemon``
  manager, which forks the workers: no worker imports them in its first
  task. Workers import it as ``python -m``, so the package must be
  importable from the JVM's cwd or PYTHONPATH, as it already must be for
  the pickled kernels.
- ``lower``/``upper``/``initcap`` run without ICU
  (``spark.sql.icu.caseMappings.enabled=false``): ASCII strings take
  ``UTF8String``'s fast path and others JVM ``String`` case mapping under
  the pinned en_US locale. With ICU, the first ``lower()`` of every JVM
  builds a title-case table over all 1.1M code points, which only
  ``initcap`` reads.
- ``table`` remembers each file's inferred schema, so a repeated read of an
  unchanged file runs no footer-inference job.
- A session that launches the driver JVM starts it from a per-machine
  class-data archive (``cds``), built by the first such session: a cold
  set-up maps Spark's classes instead of loading them from the jars.
- The driver JVM compiles with C2 only code that is really hot
  (``JIT_OPTS``): a small pass is over before most of what C2 would compile
  at the default thresholds pays back its compile time.

Buffer sizing, the ``io.sort.mb`` analog (MapTask.java:885-1009): the
reference sizes its per-task sort buffer by configuration, not by the data.
Here the torrent-broadcast chunk (``spark.broadcast.blockSize``, default
4 MB) is sized from the heap the session asks for (``SPARK_GRAFT_DRIVER_MEM``)
to stay below G1's humongous-object threshold, half a heap region
(``broadcast_block_bytes``). A humongous array takes whole regions of its own
and can start a concurrent marking cycle: at 4 MB the first chunk of each
stage's task binary is one, and warm ``llm_pipeline`` passes cost less
without them. Spark's Tungsten page (up to 64 MB) is left at its default:
1 MB pages measured no gain on top of the smaller chunks (NOTES.md).
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TABLES, cds

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
JAVA_OPTS = "-Duser.language=en -Duser.country=US"
# Driver JVM only: C2 compiles only code that is really hot. A method reaches
# C2 at JIT_SCALE times HotSpot's tier-4 invocation triggers (5000 calls, or
# 600 calls with 15000 calls plus loop iterations); the back-edge trigger
# (40000) is left as it is, so hot loops still reach C2 by on-stack
# replacement. One C2 thread instead of two (CICompilerCount=2 is one C1 and
# one C2 thread), and with it HotSpot's load feedback raises the triggers
# further while C2's queue is long, as it is in a cold pass. NOTES.md "Where a
# pass's CPU goes, thread by thread" has the policies tried and their numbers.
JIT_SCALE = 20
JIT_OPTS = (
    f"-XX:Tier4InvocationThreshold={5000 * JIT_SCALE} "
    f"-XX:Tier4MinInvocationThreshold={600 * JIT_SCALE} "
    f"-XX:Tier4CompileThreshold={15000 * JIT_SCALE} "
    "-XX:CICompilerCount=2"
)
DRIVER_OPTS = f"{JAVA_OPTS} {JIT_OPTS}"
_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def heap_bytes(mem: str) -> int:
    """Bytes of a ``spark.driver.memory`` value: MiB unless a unit
    (k, m, g or t, optionally followed by b) ends it."""
    s = mem.strip().lower().removesuffix("b")
    if s[-1:] in _UNITS:
        return int(s[:-1]) * _UNITS[s[-1]]
    return int(s) << 20


def broadcast_block_bytes(heap: int) -> int:
    """Torrent-broadcast chunk size for a G1 heap of ``heap`` bytes: the
    largest power of two whose array, with its 16-byte header,
    stays below half a heap region, G1's humongous threshold. G1 sizes a
    region as heap / 2048 rounded down to a power of two within
    [1 MB, 32 MB] (4 MB at 8 GB, so 1 MB chunks)."""
    region = 1 << min(25, max(20, (heap // 2048).bit_length() - 1))
    return region // 4


def get_session(
    app_name: str = "gaia-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale posture."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    block = broadcast_block_bytes(heap_bytes(mem))
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "hadoop_3_0_0_beta1_gaia_spark.pydaemon")
        .config("spark.driver.memory", mem)
        .config("spark.broadcast.blockSize", f"{block >> 10}k")
        # case mapping without ICU's per-JVM table (module docstring)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Pin the JVM locale: with ICU off, lower() is JVM
        # String.toLowerCase() under the DEFAULT locale, and the text kernels
        # lower-case with Python str.lower(); a tr_TR/az JVM would diverge on
        # ASCII 'I'. en_US is root-equivalent. (No effect on an
        # already-running JVM: getOrCreate reuses it.)
        .config("spark.executor.extraJavaOptions", JAVA_OPTS)
    )
    # only a call that launches the JVM (no gateway yet) can use an archive
    launch = cds.prepare(DRIVER_OPTS) if SparkContext._gateway is None else cds.Launch(DRIVER_OPTS)
    builder.config("spark.driver.extraJavaOptions", launch.java_opts)
    try:
        with launch:
            spark = builder.getOrCreate()
    except Exception:
        if launch.mode != "dump":
            raise
        # the JVM could not start in dump mode: start it as without an archive
        return builder.config("spark.driver.extraJavaOptions", DRIVER_OPTS).getOrCreate()
    launch.write_archive(spark)
    return spark


# Timestamp columns in the driver testdata. The files carry parquet
# TIMESTAMP(NANOS) which Spark refuses to read natively; we read nanos as
# long (legacy conf) and rebuild TIMESTAMP_NTZ values with exact integer
# arithmetic (DIV + decimal seconds — no double rounding at 1e18 nanos).
# NTZ keeps every downstream filter/format independent of the session
# timezone, matching DuckDB's naive-timestamp view of the same files.
_TS_COLS = {
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
    "events": ("ts",),
}

_NANOS_TO_NTZ = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00' "
    "+ make_dt_interval(0, 0, 0, CAST(`{c}` DIV 1000 AS DECIMAL(20,0)) / 1000000)"
)


# abspath -> ((mtime_ns, size, inode), schema) of the last inferred read
_SCHEMAS: dict = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    Schema inference reads footers in a Spark job on every call; the
    inferred schema is kept per file and given to the reader while the file
    keeps its (mtime, size, inode), so a repeated read runs no job.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = os.path.abspath(path)
    st = os.stat(key)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    known = _SCHEMAS.get(key)
    if known is not None and known[0] == stamp:
        df = spark.read.schema(known[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = (stamp, df.schema)
    for c in _TS_COLS.get(name, ()):
        if df.schema[c].dataType.simpleString() == "bigint":
            df = df.withColumn(c, F.expr(_NANOS_TO_NTZ.format(c=c)))
    return df


def instant_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Rebuild ``col`` as an instant TIMESTAMP from either stored shape.

    Parquet TIMESTAMP(NANOS) arrives as bigint nanos under the legacy
    nanosAsLong conf (pyspark <= 4.0) or as TIMESTAMP_NTZ natively
    (pyspark 4.1+, which ignores that conf). Either way the stored wall-clock
    is taken as UTC and converted through exact integer micros — never via an
    NTZ->LTZ cast, which would silently depend on the session timezone.
    """
    kind = df.schema[col].dataType.simpleString()
    if kind == "bigint":
        micros = F.expr(f"`{col}` DIV 1000")
    elif kind == "timestamp_ntz":
        micros = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`)"
        )
    elif kind == "timestamp":
        return df
    else:  # pragma: no cover - testdata regression guard
        raise TypeError(f"unexpected stored timestamp type {kind!r} for {col!r}")
    return df.withColumn(col, F.timestamp_micros(micros))


def stage_dir(prefix: str, sf_dir: str, name: str) -> str:
    """Local staging path for queries that exercise a write+read round trip
    (xml/mapfile/codec/partitioned sinks, streaming source dirs): one
    sanitization rule for every stage so concurrent SFs cannot collide.
    Local-mode shim — on a cluster these would be real warehouse paths."""
    return os.path.join(prefix, sf_dir.strip("/").replace("/", "_"), name)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy map work.

    Small single-file tables arrive as ONE partition (a parquet file with one
    row group can't be split), so every downstream map-side kernel — shingle
    hashing, winnowing, vector kernels — runs on one core. A cheap round-robin
    repartition buys full parallelism; a no-op when the scan already has
    enough partitions (the 100 TB case, where inputs are thousands of files).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# Helper-persist ownership ledger
# ---------------------------------------------------------------------------
# One-shot query helpers persist an intermediate that several branches of the
# RETURNED plan consume (shingle frames, bucket-keyed vector frames, range
# partitionings). The helper cannot unpersist before returning — the caller's
# action still needs the cache — so without an owner the entry outlives the
# query and, in a long-lived session running many queries back-to-back,
# cached partitions accumulate until executor-storage eviction. The ledger
# makes release deterministic: helpers register through owned_persist(),
# which also fills the cache before returning (see its docstring for why);
# callers (bench.py, soak.py, the oracle gate, any service embedding these
# helpers) call release_owned() after each query's terminal action.
# Unpersisting is always SAFE, never a correctness hazard: a live plan that
# still references the cache falls back to recomputing its lineage.

_OWNED_PERSISTS: list[DataFrame] = []


def owned_persist(df: DataFrame, populate=DataFrame.count):
    """Persist a helper intermediate, record it for deterministic release,
    fill the cache with one job, and return ``(frame, populate(frame))``.

    The fill is the rule every multi-consumer persist needs: AQE submits the
    independent consumer branches of the returned plan concurrently, and
    branches that scan a not-yet-populated cache each recompute the frame's
    whole lineage (losers' blocks are discarded; measured 12-30x on the
    shingle family, NOTES.md round 5). ``populate`` is that filling job —
    ``count`` by default; a site that needs a statistic of the frame anyway
    (per-partition counts or sums, a bucket maximum, a collect) passes that
    query instead, so the stat and the fill stay one job. It must read every
    partition (an aggregate or a full collect, never a ``take``). Its result
    is the second element of the returned pair.

    Use for frames the RETURNED plan references (no in-function unpersist
    possible); keep plain persist+unpersist for frames fully consumed inside
    the helper (BPE vocab swap, components iteration, hll fine table).
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _OWNED_PERSISTS.append(df)
    return df, populate(df)


def release_owned() -> int:
    """Unpersist every ledger entry (non-blocking); returns count released."""
    n = 0
    for f in _OWNED_PERSISTS:
        try:
            f.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to release
    _OWNED_PERSISTS.clear()
    return n


def cached_entry_count(spark: SparkSession) -> int:
    """Number of RDDs currently persisted in the session — the soak gate
    asserts this returns to zero between stages (storage stays flat)."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def force_release_all(spark: SparkSession) -> int:
    """Release EVERYTHING persisted in the session: ledger-owned helper
    persists, catalog-cached relations, and any persistent RDD still left —
    notably ``localCheckpoint`` residue, which ``clearCache()`` cannot reach
    (it is not a catalog relation) and the ContextCleaner frees only after a
    JVM+Python GC of the last reference. Iterative helpers (BPE vocab swap,
    connected components, hll rollup) localCheckpoint per round precisely to
    bound lineage, so a long session accrues these until GC.

    Only safe at STAGE BOUNDARIES: a localCheckpoint'ed frame must not be
    re-executed after this call (its lineage was truncated, so the fallback
    recompute path of plain unpersist does not exist). bench/soak/sweep call
    it between independent queries, where nothing is re-executed.

    Returns the number of RDDs force-unpersisted (post-clearCache residue).
    """
    release_owned()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(False)
        n += 1
    return n

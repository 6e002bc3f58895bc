"""Start the driver JVM from a class-data archive (JDK dynamic CDS, JEP 350).

Launching the driver JVM is most of a cold ``session.get_session``: the JVM
loads and verifies some 20k classes from ``$SPARK_HOME/jars`` before the
gateway answers. Hadoop pays the same fixed cost per JVM and answers it with
JVM reuse and uber tasks (``JobImpl.makeUberDecision``); here the classes are
mapped from an archive (``-XX:SharedArchiveFile``) that the first session on
a machine writes.

That session starts its JVM with ``-XX:+RecordDynamicDumpInfo`` and, as soon
as the session is up and has read one parquet footer, asks the JVM for the
archive (the ``VM.cds dynamic_dump`` diagnostic command, JDK 17): it holds
the classes of a JVM start, a session build and a parquet schema read,
whoever the first session is. An archive written
at the JVM's exit (``-XX:ArchiveClassesAtExit``) would hold every class the
first session happened to load; one written after a test run (216 MB) made
later sessions start faster but their warm ``llm_pipeline`` passes cost
~38% more CPU (NOTES.md).

The archive is kept per machine in
``${XDG_CACHE_HOME:-~/.cache}/hadoop_3_0_0_beta1_gaia_spark/cds/`` under a
hash of the ``java`` binary (realpath, size, mtime) and of every jar in
``$SPARK_HOME/jars`` (name, size, mtime): a changed JDK or Spark install
gets a new name and a new archive, and an old one is never used for it.
Deleting the directory rebuilds it.

Rules, each one a way the JVM fails or misreports otherwise:

- CDS refuses a non-empty directory on the class path (a dumping JVM fails,
  a mapping JVM drops the archive), and ``spark-class`` puts the conf
  directory (``$SPARK_CONF_DIR``, default ``$SPARK_HOME/conf``) first on it.
  When that directory holds only ``*.template`` files, which Spark never
  reads, or does not exist, the launch points ``SPARK_CONF_DIR`` at an empty
  directory of the cache; when it holds a real file, or anything else adds
  to the class path, the JVM starts exactly as without an archive.
- Only a complete archive is mapped: HotSpot writes the header, magic
  ``0xf00baba8`` at offset 0, last. One session at a time holds
  ``<key>.lock`` (``O_EXCL``; a lock whose process is gone is stale), dumps
  to a name of its own and promotes it with ``os.replace`` only when the
  magic is there.
- CDS logs to the JVM's stdout, which is the driver's stdout, and the dump
  command prints its file name there: CDS logging is off in both modes, and
  ``System.out`` points at ``System.err`` while the command runs.

The dumping session pays once: several seconds more set-up (NOTES.md).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import uuid

MAGIC = 0xF00BABA8
LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"
DUMP_OPTS = "-XX:+RecordDynamicDumpInfo"
# environment variables the Spark launcher adds to the class path (or reads
# a class path from); PYSPARK_SUBMIT_ARGS is checked for class-path options
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING", "SPARK_SQL_TESTING",
)


def cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(root, "hadoop_3_0_0_beta1_gaia_spark", "cds")


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def java_binary() -> str | None:
    """The ``java`` that ``spark-class`` runs."""
    if os.environ.get("JAVA_HOME"):
        return os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def archive_key(home: str, java: str) -> str:
    import hashlib

    h = hashlib.sha256()
    real = os.path.realpath(java)
    st = os.stat(real)
    h.update(f"{real}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    jars = os.path.join(home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def complete(path: str) -> bool:
    """Whether ``path`` starts with the magic HotSpot writes last."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(4)
    except OSError:
        return False
    return len(head) == 4 and int.from_bytes(head, sys.byteorder) == MAGIC


def conf_dir_is_blank(home: str) -> bool:
    """Whether the conf directory is missing or holds only templates."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if not os.path.lexists(conf):
        return True
    if not os.path.isdir(conf):
        return False
    return all(name.endswith(".template") for name in os.listdir(conf))


def _start_time(pid: int) -> str | None:
    """Start time of a live process; None if it is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] == "Z" else fields[19]


def _settle(lock: str) -> None:
    """Break a stale lock and delete what its dead owner was writing."""
    try:
        with open(lock) as fh:
            pid, start, part = fh.read().split()
    except FileNotFoundError:
        return
    except (OSError, ValueError):  # cut short: its owner died writing it
        pid = None
    if pid is not None:
        if _start_time(int(pid)) == start:
            return
        part = os.path.join(os.path.dirname(lock), part)
        if os.path.exists(part):
            os.remove(part)
    os.remove(lock)


def _dump_classes(path: str) -> None:
    """Have the running driver JVM write its loaded classes to ``path``
    (``jcmd <pid> VM.cds dynamic_dump <path>``, through the platform MBean
    server; py4j cannot call methods of the server's own class, so the call
    goes through the public interface's ``Method``)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.jvm

    def array(cls, *items):
        arr = gw.new_array(cls, len(items))
        for i, item in enumerate(items):
            arr[i] = item
        return arr

    klass = jvm.java.lang.Class
    signature = ("javax.management.ObjectName", "java.lang.String",
                 "[Ljava.lang.Object;", "[Ljava.lang.String;")
    invoke = klass.forName("javax.management.MBeanServerConnection").getMethod(
        "invoke", array(klass, *(klass.forName(n) for n in signature))
    )
    system = jvm.java.lang.System
    stdout = system.out
    system.setOut(system.err)  # the command prints its file name to System.out
    try:
        invoke.invoke(
            jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(),
            array(
                jvm.java.lang.Object,
                jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
                "vmCds",
                array(jvm.java.lang.Object, array(jvm.java.lang.String, "dynamic_dump", path)),
                array(jvm.java.lang.String, "[Ljava.lang.String;"),
            ),
        )
    finally:
        system.setOut(stdout)


class Launch:
    """How one ``get_session`` starts its driver JVM: the driver's Java
    options and the ``SPARK_CONF_DIR`` to launch with.

    ``mode`` is ``None`` (as without an archive), ``"use"`` (maps
    ``archive``), ``"dump"`` (holds the lock; ``write_archive`` writes
    ``archive`` once the session is up) or ``"busy"`` (another session is
    writing the archive: starts as without one). Enter it around the
    launch.
    """

    def __init__(self, java_opts: str, mode: str | None = None, conf_dir: str | None = None,
                 archive: str | None = None, lock: str | None = None, part: str | None = None):
        self.mode = mode
        self.conf_dir = conf_dir
        self.archive, self.lock, self.part = archive, lock, part
        if mode == "use":
            java_opts = f"{java_opts} -XX:SharedArchiveFile={archive} {LOG_OFF}"
        elif mode == "dump":
            java_opts = f"{java_opts} {DUMP_OPTS} {LOG_OFF}"
        self.java_opts = java_opts
        self._saved: str | None = None

    def __enter__(self) -> Launch:
        if self.conf_dir is not None:
            self._saved = os.environ.get("SPARK_CONF_DIR")
            os.environ["SPARK_CONF_DIR"] = self.conf_dir
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.conf_dir is not None:
            if self._saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = self._saved
        if self.mode == "dump" and exc_type is not None:
            # the JVM failed to start with the dump options: later sessions
            # start without an archive until the cache is deleted
            if issubclass(exc_type, Exception):
                self._give_up(f"{exc_type.__name__}: {exc}")
            self._release()

    def write_archive(self, spark) -> None:
        """In dump mode, once the session is up: read one parquet footer, as
        every engine session does first, then have the JVM write its classes
        and promote the file if complete."""
        if self.mode != "dump":
            return
        try:
            warm = os.path.join(os.path.dirname(self.lock), "warm.parquet")
            if not os.path.exists(warm):
                import pyarrow as pa
                import pyarrow.parquet as pq

                pq.write_table(pa.table({"id": [1]}), f"{self.part}.parquet")
                os.replace(f"{self.part}.parquet", warm)
            spark.read.parquet(warm).schema  # noqa: B018
            _dump_classes(self.part)
            if complete(self.part):
                os.replace(self.part, self.archive)
        except Exception as err:  # the session stands; the archive is given up
            self._give_up(f"{type(err).__name__}: {err}")
        finally:
            self._release()

    def _give_up(self, why: str) -> None:
        with contextlib.suppress(OSError):
            with open(os.path.join(os.path.dirname(self.lock), "off"), "w") as fh:
                fh.write(why + "\n")

    def _release(self) -> None:
        for path in (f"{self.part}.parquet", self.part, self.lock):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


def site() -> tuple[str, str] | None:
    """(archive key, cache directory) when a new driver JVM can start from
    an archive; None, and the JVM starts as without one, on any doubt."""
    if os.environ.get("PYSPARK_GATEWAY_PORT") or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    if not os.path.isdir("/proc/self"):
        return None  # a lock's liveness is read from /proc
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "").lower()
    if any(opt in submit for opt in ("classpath", "class-path", "properties-file")):
        return None
    try:
        home, java = spark_home(), java_binary()
        if java is None or not conf_dir_is_blank(home):
            return None
        root = cache_dir()
        if any(c.isspace() or c in "'\"\\" for c in root):
            return None  # Spark splits the Java options at spaces
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
        if os.listdir(os.path.join(root, "conf")) or os.path.exists(os.path.join(root, "off")):
            return None
        return archive_key(home, java), root
    except (OSError, ValueError):
        return None


# the Launch of the last driver JVM this process started through prepare()
LAST: Launch | None = None


def prepare(java_opts: str) -> Launch:
    """Decide how to launch a new driver JVM."""
    global LAST
    LAST = _decide(java_opts)
    return LAST


def _decide(java_opts: str) -> Launch:
    found = site()
    if found is None:
        return Launch(java_opts)
    key, root = found
    conf = os.path.join(root, "conf")
    archive = os.path.join(root, f"{key}.jsa")
    lock = os.path.join(root, f"{key}.lock")
    try:
        import fcntl

        with open(os.path.join(root, "mutex"), "w") as mutex:
            # one session at a time settles and takes the lock
            fcntl.flock(mutex, fcntl.LOCK_EX)
            if complete(archive):
                return Launch(java_opts, "use", conf, archive=archive)
            _settle(lock)
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            except FileExistsError:
                return Launch(java_opts, "busy")
            part = f"{key}.{os.getpid()}.{uuid.uuid4().hex[:8]}.part"
            with os.fdopen(fd, "w") as fh:
                fh.write(f"{os.getpid()} {_start_time(os.getpid())} {part}\n")
            return Launch(java_opts, "dump", conf, archive=archive, lock=lock,
                          part=os.path.join(root, part))
    except OSError:
        return Launch(java_opts)

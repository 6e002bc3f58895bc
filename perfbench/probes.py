"""Measurement helpers: spans, the executed-plan metric walker, the event-log
reader, the streaming progress listener and a /proc memory sampler.

Everything here observes the engine from outside: spans wrap the benchmark's
own calls into the engine's modules, and the plan and streaming numbers are
read through Spark's public listener and plan objects after each action.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans nested workload -> pass -> job -> layer call.

    With ``enabled`` false, ``span`` records nothing and costs one attribute
    read, so the untraced passes run the same code path.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, root_ids: set[int]) -> dict[str, float]:
        """Per-layer self time (duration minus time covered by child spans),
        summed over the layer spans below ``root_ids``."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["layer"] and self._root(s) in root_ids and s["end"] is not None:
                out[s["layer"]] += s["end"] - s["start"] - child_time[s["id"]]
        return out

    def layer_time(self, root_ids: set[int], layer: str, name: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["layer"] == layer and s["name"] == name and self._root(s) in root_ids
        )

    def _root(self, s: dict) -> int:
        # the pass span: the ancestor directly below the workload span
        while s["parent"] is not None and self.spans[s["parent"]]["parent"] is not None:
            s = self.spans[s["parent"]]
        return s["id"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Executed-plan walker
# ---------------------------------------------------------------------------

# node class (simple name) -> layer
_SOURCES = {"FileSourceScanExec", "BatchScanExec", "DataWritingCommandExec",
            "WriteFilesExec", "RowDataSourceScanExec"}
_FUNCTIONS = {"MapInArrowExec", "PythonMapInArrowExec", "MapInPandasExec",
              "ArrowEvalPythonExec", "BatchEvalPythonExec",
              "FlatMapGroupsInPandasExec", "FlatMapCoGroupsInPandasExec",
              "AggregateInPandasExec", "WindowInPandasExec", "ArrowWindowPythonExec"}
_SESSION = {"InMemoryTableScanExec"}
_STREAMING_PREFIXES = ("StateStore", "Streaming", "FlatMapGroupsWithState",
                       "TransformWithState", "SessionWindowStateStore")
_OPERATOR_NAMES = {"WholeStageCodegenExec", "AQEShuffleReadExec", "SortExec",
                   "ShuffleExchangeExec", "BroadcastExchangeExec",
                   "HashAggregateExec", "ObjectHashAggregateExec",
                   "SortAggregateExec", "WindowExec", "TakeOrderedAndProjectExec"}

_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: (\d+), name: [^,]*, value: (-?\d+)\)")


def node_layer(cls: str) -> str | None:
    if cls in _SOURCES:
        return "sources"
    if cls in _FUNCTIONS:
        return "functions"
    if cls in _SESSION:
        return "session"
    if cls.startswith(_STREAMING_PREFIXES):
        return "streaming"
    if cls in _OPERATOR_NAMES or cls.endswith("JoinExec") or cls.endswith("AggregateExec"):
        return "operators"
    return None


# (layer, node metric) -> output key; "ns" metrics are converted to ms
_MAP = {
    "sources": {"numOutputRows": "scan_rows", "filesSize": "scan_bytes",
                "scanTime": "scan_ms"},
    "functions": {"pythonInitTime": "python_init_ms", "pythonBootTime": "python_boot_ms",
                  "pythonTotalTime": "python_compute_ms",
                  "pythonDataSent": "arrow_bytes_sent",
                  "pythonDataReceived": "arrow_bytes_received",
                  "pythonNumRowsReceived": "kernel_rows_out"},
    "session": {"numOutputRows": "cache_scan_rows"},
    "operators": {"pipelineTime": "codegen_ms", "aggTime": "agg_ms",
                  "numTasksFallBacked": "agg_fallback_tasks", "spillSize": "spill_bytes",
                  "buildTime": "broadcast_build_ms", "collectTime": "broadcast_collect_ms",
                  "shuffleBytesWritten": "shuffle_bytes",
                  "shuffleRecordsWritten": "shuffle_records",
                  "shuffleWriteTime": "shuffle_write_ms",
                  "fetchWaitTime": "shuffle_fetch_wait_ms", "sortTime": "sort_ms"},
}


class PlanWalker:
    """Sums the SQL metrics of every executed plan by layer.

    Registered as a ``QueryExecutionListener`` (through the py4j callback
    server), it walks ``qe.executedPlan()`` after each action, unwrapping
    ``AdaptiveSparkPlanExec`` to its final plan, query stages to their plans
    and cached relations to the plan that built them. Every metric is counted
    once per job by accumulator id, so a reused exchange or a cache scanned
    by several actions is not counted twice.
    """

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._types: dict[tuple[str, str], str] = {}
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.values: dict[int, tuple[str, str, str, int]] = {}
            self.kernel_rows_in: dict[int, int] = {}
            self.aqe_src_partitions: dict[int, int] = {}
            self.errors: list[str] = []
            self.executions = 0

    # QueryExecutionListener -------------------------------------------------
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        try:
            found: dict[int, tuple[str, str, str, int]] = {}
            rows_in: dict[int, int] = {}
            aqe_src: dict[int, int] = {}
            self._walk(qe.executedPlan(), found, rows_in, aqe_src)
        except Exception as ex:  # noqa: BLE001 - a listener must not raise into Spark
            with self._lock:
                self.errors.append(repr(ex)[:300])
            return
        with self._lock:
            self.values.update(found)
            self.kernel_rows_in.update(rows_in)
            self.aqe_src_partitions.update(aqe_src)
            self.executions += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        with self._lock:
            self.errors.append(f"{func_name}: action failed")

    # walking ----------------------------------------------------------------
    def _metrics(self, node, cls: str) -> dict[str, tuple[int, int]]:
        out = {}
        for name, mid, value in _METRIC_RE.findall(node.metrics().toString()):
            key = (cls, name)
            if key not in self._types:
                self._types[key] = node.metrics().apply(name).metricType()
            v = int(value)
            if self._types[key] == "nsTiming":
                v //= 1_000_000
            out[name] = (int(mid), v)
        return out

    def _rows_out(self, node) -> tuple[int, int] | None:
        """(metric id, rows) produced by the nearest node below a kernel."""
        while node is not None:
            cls = node.getClass().getSimpleName()
            m = self._metrics(node, cls)
            for k in ("numOutputRows", "shuffleRecordsWritten", "pythonNumRowsReceived"):
                if k in m:
                    return m[k]
            node = self._children(node, cls)
            node = node[0] if len(node) == 1 else None
        return None

    @staticmethod
    def _children(node, cls: str) -> list:
        if cls == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if cls.endswith("QueryStageExec"):
            return [node.plan()]
        if cls == "ReusedExchangeExec":
            return []  # the exchange it reuses is walked where it first ran
        kids = node.children()
        out = [kids.apply(i) for i in range(kids.length())]
        if cls == "InMemoryTableScanExec":
            out.append(node.relation().cachedPlan())
        return out

    def _walk(self, node, found, rows_in, aqe_src) -> None:
        cls = node.getClass().getSimpleName()
        layer = node_layer(cls)
        kids = self._children(node, cls)
        if layer is not None:
            for name, (mid, v) in self._metrics(node, cls).items():
                found[mid] = (layer, cls, name, v)
            if layer == "functions" and kids:
                r = self._rows_out(kids[0])
                if r is not None:
                    rows_in[r[0]] = r[1]
            if cls == "AQEShuffleReadExec" and kids:
                stage = kids[0]
                ex = stage.plan() if stage.getClass().getSimpleName().endswith(
                    "QueryStageExec") else stage
                m = self._metrics(ex, ex.getClass().getSimpleName())
                if "numPartitions" in m:
                    aqe_src[m["numPartitions"][0]] = m["numPartitions"][1]
        for k in kids:
            self._walk(k, found, rows_in, aqe_src)

    def totals(self) -> dict[str, float]:
        """Layer metrics of everything walked since the last ``reset``."""
        with self._lock:
            vals = list(self.values.values())
            rows_in = sum(self.kernel_rows_in.values())
            aqe_src = sum(self.aqe_src_partitions.values())
        out: dict[str, float] = defaultdict(float)
        for layer, cls, name, v in vals:
            if cls == "DataWritingCommandExec":
                if name == "numFiles":
                    out["sources.write_files"] += v
                elif name == "numOutputBytes":
                    out["sources.write_bytes"] += v
                continue
            if layer == "operators" and cls == "AQEShuffleReadExec":
                if name == "numPartitions":
                    out["operators.aqe_partitions"] += v
                elif name == "numEmptyPartitions":
                    out["operators.aqe_empty_partitions"] += v
                continue
            if layer == "operators" and cls == "BroadcastExchangeExec" and name == "dataSize":
                out["operators.broadcast_bytes"] += v
                continue
            key = _MAP.get(layer, {}).get(name)
            if key:
                out[f"{layer}.{key}"] += v
        out["functions.kernel_rows_in"] = rows_in
        out["operators.aqe_source_partitions"] = aqe_src
        return out


def register_walker(spark, walker: PlanWalker) -> None:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    spark._jsparkSession.listenerManager().register(walker)


def unregister_walker(spark, walker: PlanWalker) -> None:
    spark._jsparkSession.listenerManager().unregister(walker)


def drain_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            rec = {
                "run_id": str(p.runId),
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "state": [
                    {
                        "rows": s.numRowsTotal,
                        "bytes": s.memoryUsedBytes,
                        "commit_ms": s.commitTimeMs,
                        "dropped": s.numRowsDroppedByWatermark,
                    }
                    for s in p.stateOperators
                ],
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            with self.lock:
                self.terminated.add(str(event.runId))

        def take(self) -> list[dict]:
            with self.lock:
                out, self.progress = self.progress, []
            return out

    return _Listener()


def streaming_totals(progress: list[dict]) -> dict[str, float]:
    """Sum a job's micro-batch progress into the streaming layer metrics.
    State size is the last batch's state per query (what the drain left)."""
    out: dict[str, float] = defaultdict(float)
    last_state: dict[str, list[dict]] = {}
    for p in progress:
        if p["rows"] == 0 and not p["state"]:
            continue  # idle/no-data progress
        d = p["duration"]
        out["streaming.batches"] += 1
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        for s in p["state"]:
            out["streaming.state_commit_ms"] += s["commit_ms"]
            out["streaming.late_rows_dropped"] += s["dropped"]
        last_state[p["run_id"]] = p["state"]
    for states in last_state.values():
        out["streaming.state_rows"] += sum(s["rows"] for s in states)
        out["streaming.state_bytes"] += sum(s["bytes"] for s in states)
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Task and job totals from Spark's event log, for tasks launched and
    jobs submitted inside any of ``windows`` (epoch seconds)."""
    wins = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(ms: float) -> bool:
        return any(a <= ms <= b for a, b in wins)

    out: dict[str, float] = defaultdict(float)
    # Spark 4 writes rolling logs: one directory per application
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    if not inside(info.get("Launch Time", 0)):
                        continue
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    run = m.get("Executor Run Time", 0)
                    ser = m.get("Result Serialization Time", 0)
                    deser = m.get("Executor Deserialize Time", 0)
                    get_res = info.get("Getting Result Time", 0)
                    get_res = info.get("Finish Time", 0) - get_res if get_res else 0
                    out["session.tasks"] += 1
                    out["session.scheduler_delay_ms"] += max(0, dur - run - ser - deser - get_res)
                    out["session.gc_ms"] += m.get("JVM GC Time", 0)
                    out["session.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if inside(ev.get("Submission Time", 0)):
                        out["plans.jobs"] += 1
    return out


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue  # the process ended while we looked
        pid = int(stat.split("/")[2])
        parent[pid] = int(data[data.rindex(")") + 2:].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds used so far by ``root`` and all its
    descendants, counting children they have already reaped. Unlike wall
    time, this does not grow when the host withholds CPU from the guest; it
    does grow when the host runs the guest's CPUs slower (see ``calibrate``)."""
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                data = fh.read()
        except OSError:
            continue  # ended since the scan; its time is in its parent's
        # the command name may contain spaces; fields resume after ')'
        total += sum(int(v) for v in data[data.rindex(")") + 2:].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def calibrate(spark) -> float:
    """CPU seconds of one fixed kernel that uses no engine code: a seeded
    numpy sort and a dict/str loop in this Python thread, then a seeded int
    sort and a BigInteger square root in the JVM thread py4j pins to it.

    On a shared host the CPU time of the same work swings with what the
    neighbours run (clock speed, the sibling hyperthread, memory bandwidth):
    the same llm_pipeline pass read 4 CPU-s and, a few hours apart, 10.
    The kernel slows with the host and not with the engine, so pass CPU
    divided by the kernel's CPU measures the engine's work in units of the
    host's speed at the time. Its size and content are fixed: changing them
    changes the unit."""
    import numpy as np

    t0 = time.thread_time()
    np.sort(np.random.default_rng(0).integers(0, 1 << 40, 500_000))
    d = {}
    for i in range(300_000):
        d[str(i * 7919 % 100_003)] = i
    py_s = time.thread_time() - t0
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    j0 = mx.getCurrentThreadCpuTime()
    arr = jvm.java.util.Random(0).ints(1_000_000).toArray()
    jvm.java.util.Arrays.sort(arr)
    jvm.java.math.BigInteger.valueOf(7).pow(60_000).sqrt().bitLength()
    return py_s + (mx.getCurrentThreadCpuTime() - j0) / 1e9


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed resident memory of this process's descendants (the
    driver JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(_descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One driver process, one client, closed loop: the jobs of a workload run one
after another on ``local[nproc]``, each waiting for the previous one. A run

1. sets up twice from cold (``session.get_session`` launching a new JVM,
   seeded input generation, first touch of the parquet footers), the first
   set-up stopping the session and its JVM again (``setup_s``: the median
   wall time);
2. runs one cold pass over the workload's jobs (``first_pass_ref_s``) that
   collects every job's rows; after the pass, outside its measurement, they
   are compared with the job's registry oracle SQL run by DuckDB over the
   same files (TeraSort passes TeraValidate on every pass);
3. runs ``--seconds / 2`` timed passes (at least three), each job
   materializing every row and column of its result into the noop sink and
   releasing its caches afterwards (``pass_ref_s``: their mean).

A pass costs the CPU seconds (user + system) of this process, the driver JVM
and the Python workers, read from ``/proc``. Neither wall nor CPU time of
the same work holds still on a shared host: wall time swings with the CPU
the host withholds, CPU time with how fast the host runs the CPUs it gives
(the same llm_pipeline pass read 4 and 10 CPU-s a few hours apart). So the
run also times a fixed calibration kernel that uses no engine code
(``probes.calibrate``): once unrecorded after set-up, then before every
pass and after the last. The kernel slows with the host, not with the
engine, and every time is scaled by ``CAL_REF_S`` / kernel CPU time into
seconds on the reference host (``*_ref_s``): the timed passes by the kernel
runs that bracket them, set-up and the cold pass by the median of all. The
number of timed passes depends on ``--seconds`` only, not on how fast the
host is: the JIT compiler keeps working for a minute or more of passes and
pass cost falls as it does, so every run reports the same passes of that
decline. Raw wall and CPU times of every set-up and pass, and every kernel
time, are in the metadata line.

With ``--trace 1`` the run interleaves untraced and traced passes and prints
per-layer metrics instead: spans around the benchmark's calls into each
engine module, SQL metrics of every executed plan, Spark's event log and
streaming progress events. Spans go to ``.perfbench_work/traces/``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it carries the run's metadata.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hadoop_3_0_0_beta1_gaia_spark"
SETUP_REPS = 2
SECONDS_PER_PASS = 2.0  # timed passes per run: --seconds / SECONDS_PER_PASS
MIN_STEADY_PASSES = 3
# CPU seconds of one calibration kernel run on the reference host, a quiet
# 4-core Xeon VM (0.21-0.24 measured): the unit of the *_ref_s metrics
CAL_REF_S = 0.25
MIN_TRACE_PASSES = 2  # of each kind, untraced and traced, in a traced run

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_ref_s": "s", "pass_ref_s": "s",
    "rows_per_ref_s": "1/s", "ok_frac": "share",
}

# Traced-run metrics: per traced pass unless named otherwise (set-up times,
# shares and ratios); a metric that does not apply to a workload reads 0.
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.core_busy_share": "share",
    "session.tasks": "count", "session.scheduler_delay_ms": "ms",
    "session.gc_ms": "ms", "session.cache_bytes": "bytes",
    "session.cache_scan_rows": "count", "session.release_s": "s",
    "session.leaked_rdds": "count", "session.peak_rss_mb": "MB", "session.self_s": "s",
    "sources.gen_s": "s", "sources.scan_rows": "count", "sources.scan_bytes": "bytes",
    "sources.scan_ms": "ms", "sources.write_s": "s", "sources.write_bytes": "bytes",
    "sources.write_files": "count", "sources.self_s": "s",
    "operators.codegen_ms": "ms", "operators.agg_ms": "ms",
    "operators.agg_fallback_tasks": "count", "operators.aqe_partitions": "count",
    "operators.aqe_empty_partition_share": "share",
    "operators.broadcast_build_ms": "ms", "operators.broadcast_collect_ms": "ms",
    "operators.broadcast_bytes": "bytes", "operators.shuffle_bytes": "bytes",
    "operators.shuffle_records": "count", "operators.shuffle_write_ms": "ms",
    "operators.shuffle_fetch_wait_ms": "ms", "operators.sort_ms": "ms",
    "operators.spill_bytes": "bytes", "operators.self_s": "s",
    "functions.python_boot_ms": "ms", "functions.python_init_ms": "ms",
    "functions.python_init_share": "share", "functions.python_compute_ms": "ms",
    "functions.arrow_bytes_sent": "bytes", "functions.arrow_bytes_received": "bytes",
    "functions.kernel_rows_out_per_in": "ratio",
    "plans.build_s": "s", "plans.action_s": "s", "plans.jobs_per_entry": "ratio",
    "plans.self_s": "s",
    "streaming.drain_s": "s", "streaming.batches": "count",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.late_rows_dropped": "count", "streaming.self_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_share": "share",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and put the engine package on the workers' import path. Must
    run before the JVM starts."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot would otherwise keep a perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    if trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')} "
            "pyspark-shell"
        )


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scale: float | None, work: str) -> None:
        import probes as tr
        import workloads as wl

        self.tr, self.wl = tr, wl
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.scale = wl.SCALES[workload] if scale is None else scale
        self.work = work
        self.in_dir = os.path.join(work, "inputs", f"seed{seed}")  # one dir per seed
        self.jobs = wl.WORKLOADS[workload]
        self.tracer = tr.Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.sizes: dict[str, dict] = {}
        self.ctx_state: dict = {}
        self.cpu: list[float] = []  # CPU seconds of each pass, in order
        self.cal: list[float] = []  # kernel CPU seconds: before each pass, after the last

    # set-up -----------------------------------------------------------------
    def setup(self) -> dict:
        """Set up SETUP_REPS times, each from cold: every set-up but the last
        stops the session and waits for its JVM to exit."""
        import gen

        from hadoop_3_0_0_beta1_gaia_spark import session

        totals, starts, gens, cpus = [], [], [], []
        for _ in range(SETUP_REPS):
            self.stop()
            cpu0 = self.tr.cpu_seconds(os.getpid())
            t0 = time.perf_counter()
            with self.tracer.span("get_session", "session"):
                self.spark = session.get_session(app_name=f"perfbench-{self.workload}")
            t1 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
            with self.tracer.span("generate", "sources"):
                self.sizes = gen.generate(self.workload, self.seed, self.scale, self.in_dir)
            t2 = time.perf_counter()
            with self.tracer.span("touch_footers", "sources"):
                self._touch_footers()
            totals.append(time.perf_counter() - t0)
            cpus.append(self.tr.cpu_seconds(os.getpid()) - cpu0)
            starts.append(t1 - t0)
            gens.append(t2 - t1)
        if "tera" in self.sizes:
            self.ctx_state["tera_rows"] = self.sizes["tera"]["rows"]
        return {"setup_s": statistics.median(totals), "start_s": statistics.median(starts),
                "gen_s": statistics.median(gens), "setup_runs_s": totals,
                "setup_cpu_s": cpus}

    def _touch_footers(self) -> None:
        for dirpath, _, files in os.walk(self.in_dir):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    self.spark.read.parquet(os.path.join(dirpath, f)).schema  # noqa: B018

    def input_rows(self) -> tuple[int, int]:
        return (sum(v["rows"] for v in self.sizes.values()),
                sum(v["bytes"] for v in self.sizes.values()))

    # passes -----------------------------------------------------------------
    def ctx(self):
        return self.wl.Ctx(self.spark, self.in_dir, self.work, self.tracer, self.ctx_state)

    def run_pass(self, index: int, traced: bool, per_job: dict | None = None,
                 check: bool = False) -> float:
        """One pass over the jobs, after one run of the calibration kernel;
        returns its wall time in seconds and appends the CPU seconds it used
        to ``self.cpu`` and the kernel's to ``self.cal``. A checking pass
        collects every job's rows instead of writing them to the noop sink,
        and compares them with the job's oracle after the pass's CPU time is
        read."""
        from hadoop_3_0_0_beta1_gaia_spark.session import cached_entry_count, force_release_all

        tr = self.tr
        collected = []  # (job, columns, rows) of a checking pass
        self.cal.append(tr.calibrate(self.spark))
        self.tracer.enabled = traced
        cpu0 = tr.cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        with self.tracer.span("pass", None, index=index):
            for name in self.jobs:
                self.attempted += 1
                with self.tracer.span("job", None, job=name):
                    try:
                        out = self.wl.job_runner(self.workload, name)(self.ctx())
                        if out.df is not None and check:
                            with self.tracer.span("action", out.layer):
                                rows = [tuple(r) for r in out.df.collect()]
                            collected.append((name, out.df.columns, rows))
                        elif out.df is not None:
                            with self.tracer.span("action", out.layer):
                                out.df.write.format("noop").mode("overwrite").save()
                        if out.ok is False:
                            raise RuntimeError(
                                f"{name}: TeraValidate failed {self.ctx_state.get('validation')}")
                    except Exception as ex:  # noqa: BLE001 - count the job, run the rest
                        self._fail(f"pass {index} {name}: {ex!r}")
                        traceback.print_exc(file=sys.stderr)
                    if traced and per_job is not None:
                        tr.drain_listeners(self.spark)
                        per_job["cache_bytes"] += self._cache_bytes()
                    with self.tracer.span("force_release_all", "session"):
                        force_release_all(self.spark)
                    if traced and per_job is not None:
                        per_job["leaked_rdds"] += cached_entry_count(self.spark)
        self.tracer.enabled = False
        wall = time.perf_counter() - t0
        self.cpu.append(tr.cpu_seconds(os.getpid()) - cpu0)
        if collected:
            con = self.wl.oracle_connection(self.workload, self.in_dir)
            for name, cols, rows in collected:
                err = self.wl.check(con, name, cols, rows)
                if err:
                    self._fail(f"pass {index} output check: {err}")
            con.close()
        return wall

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:500])

    def _cache_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    # protocol ---------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        """Set up, then run the cold checking pass and the timed passes; returns the
        metrics and the set-up timings."""
        self.tracer.enabled = self.trace
        with self.tracer.span("workload", None, workload=self.workload, seed=self.seed):
            with self.tracer.span("setup", None):
                setup = self.setup()
            self.default_parallelism = self.spark.sparkContext.defaultParallelism
            prop = self.spark._jvm.java.lang.System.getProperty
            self.java = f"{prop('java.vm.name')} {prop('java.runtime.version')}"
            self.tr.calibrate(self.spark)  # unrecorded: the kernel's first run is JIT-cold
            if self.trace:
                return self._run_traced(setup)
            first = self.run_pass(0, traced=False, check=True)
            steady = [self.run_pass(k, traced=False)
                      for k in range(1, 1 + self.steady_passes())]
            self.cal.append(self.tr.calibrate(self.spark))  # closes the last timed pass
        rows, _ = self.input_rows()
        # host speed as reference kernel CPU over measured kernel CPU: over the
        # whole run, and over the kernel runs that bracket the timed passes
        run_speed = CAL_REF_S / statistics.median(self.cal)
        pass_ref_s = statistics.fmean(self.cpu[1:]) * CAL_REF_S / statistics.fmean(self.cal[1:])
        self.passes = {"first_s": first, "steady_s": steady,
                       "cpu_s": self.cpu, "cal_cpu_s": self.cal, "run_speed": run_speed}
        return {
            "setup_s": setup["setup_s"] * run_speed,
            "first_pass_ref_s": self.cpu[0] * run_speed,
            "pass_ref_s": pass_ref_s,
            "rows_per_ref_s": rows / pass_ref_s,
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }, setup

    def steady_passes(self) -> int:
        return max(MIN_STEADY_PASSES, round(self.seconds / SECONDS_PER_PASS))

    def _run_traced(self, setup: dict) -> tuple[dict, dict]:
        from collections import defaultdict

        tr = self.tr
        walker = tr.PlanWalker()
        listener = tr.make_stream_listener()
        per_job: dict[str, float] = defaultdict(float)
        plan_totals: dict[str, float] = defaultdict(float)
        stream_totals: dict[str, float] = defaultdict(float)

        def traced_pass(k: int) -> tuple[float, float, float]:
            # listeners observe traced passes only
            tr.drain_listeners(self.spark)
            walker.reset()
            tr.register_walker(self.spark, walker)
            self.spark.streams.addListener(listener)
            w0 = time.time()
            dt = self.run_pass(k, traced=True, per_job=per_job)
            w1 = time.time()
            tr.drain_listeners(self.spark)
            self.spark.streams.removeListener(listener)
            tr.unregister_walker(self.spark, walker)
            for key, v in walker.totals().items():
                plan_totals[key] += v
            for key, v in tr.streaming_totals(listener.take()).items():
                stream_totals[key] += v
            return dt, w0, w1

        untraced, traced, windows, pass_ids = [], [], [], set()
        with tr.RssSampler() as rss:
            first = self.run_pass(0, traced=False, check=True)
            t_end = time.perf_counter() + self.seconds
            k = 1
            while min(len(untraced), len(traced)) < MIN_TRACE_PASSES or (
                time.perf_counter() < t_end
            ):
                # untraced, traced, traced, untraced, ...: a warm-up trend
                # across passes weighs on both kinds alike
                if k % 4 in (0, 1):
                    untraced.append(self.run_pass(k, traced=False))
                else:
                    n_before = len(self.tracer.spans)
                    dt, w0, w1 = traced_pass(k)
                    traced.append(dt)
                    windows.append((w0, w1))
                    pass_ids.add(n_before)  # the pass span is the first recorded
                k += 1
        self.passes = {"first_s": first, "untraced_s": untraced,
                       "traced_s": traced, "cpu_s": self.cpu, "cal_cpu_s": self.cal}
        n = len(traced)
        cores = self.spark.sparkContext.defaultParallelism
        self.stop()
        events = tr.read_event_log(os.path.join(self.work, "eventlog"), windows)

        m: dict[str, float] = {}
        wall_ms = sum(traced) * 1000.0
        m["session.start_s"] = setup["start_s"]
        m["session.core_busy_share"] = events["session.executor_cpu_ms"] / (wall_ms * cores)
        for key in ("session.tasks", "session.scheduler_delay_ms", "session.gc_ms"):
            m[key] = events[key] / n
        m["session.cache_bytes"] = per_job["cache_bytes"] / n
        m["session.cache_scan_rows"] = plan_totals["session.cache_scan_rows"] / n
        m["session.release_s"] = self.tracer.layer_time(pass_ids, "session", "force_release_all") / n
        m["session.leaked_rdds"] = per_job["leaked_rdds"] / n
        m["session.peak_rss_mb"] = rss.peak / 2**20
        m["sources.gen_s"] = setup["gen_s"]
        for key in ("scan_rows", "scan_bytes", "scan_ms", "write_bytes", "write_files"):
            m[f"sources.{key}"] = plan_totals[f"sources.{key}"] / n
        m["sources.write_s"] = self.tracer.layer_time(pass_ids, "sources", "write_parquet") / n
        for key in ("codegen_ms", "agg_ms", "agg_fallback_tasks", "aqe_partitions",
                    "broadcast_build_ms", "broadcast_collect_ms", "broadcast_bytes",
                    "shuffle_bytes", "shuffle_records", "shuffle_write_ms",
                    "shuffle_fetch_wait_ms", "sort_ms", "spill_bytes"):
            m[f"operators.{key}"] = plan_totals[f"operators.{key}"] / n
        src_parts = plan_totals["operators.aqe_source_partitions"]
        m["operators.aqe_empty_partition_share"] = (
            plan_totals["operators.aqe_empty_partitions"] / src_parts if src_parts else 0.0
        )
        init, boot = plan_totals["functions.python_init_ms"], plan_totals["functions.python_boot_ms"]
        compute = plan_totals["functions.python_compute_ms"]
        m["functions.python_init_ms"] = init / n
        m["functions.python_boot_ms"] = boot / n
        m["functions.python_init_share"] = init / (init + compute) if init + compute else 0.0
        m["functions.python_compute_ms"] = compute / n
        m["functions.arrow_bytes_sent"] = plan_totals["functions.arrow_bytes_sent"] / n
        m["functions.arrow_bytes_received"] = plan_totals["functions.arrow_bytes_received"] / n
        rows_in = plan_totals["functions.kernel_rows_in"]
        m["functions.kernel_rows_out_per_in"] = (
            plan_totals["functions.kernel_rows_out"] / rows_in if rows_in else 0.0
        )
        m["plans.build_s"] = self.tracer.layer_time(pass_ids, "plans", "build") / n
        m["plans.action_s"] = self.tracer.layer_time(pass_ids, "plans", "action") / n
        m["plans.jobs_per_entry"] = events["plans.jobs"] / (n * len(self.jobs))
        m["streaming.drain_s"] = self.tracer.layer_time(pass_ids, "streaming", "run_to_memory") / n
        for key in ("batches", "state_rows", "state_bytes", "state_commit_ms",
                    "add_batch_ms", "planning_ms", "wal_commit_ms", "late_rows_dropped"):
            m[f"streaming.{key}"] = stream_totals[f"streaming.{key}"] / n
        for layer, v in self.tracer.self_times(pass_ids).items():
            m[f"{layer}.self_s"] = v / n
        for layer in ("session", "sources", "operators", "plans", "streaming"):
            m.setdefault(f"{layer}.self_s", 0.0)
        m["trace.pass_s"] = statistics.median(traced)
        m["trace.untraced_pass_s"] = statistics.median(untraced)
        m["trace.overhead_share"] = m["trace.pass_s"] / m["trace.untraced_pass_s"] - 1.0
        if walker.errors:
            self.errors.extend(f"walker: {e}" for e in walker.errors[:5])
        return m, setup

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def meta(self, setup: dict) -> dict:
        import duckdb
        import pyspark

        rows, nbytes = self.input_rows()
        return {
            "workload": self.workload, "seed": self.seed, "scale": self.scale,
            "trace": self.trace, "seconds": self.seconds,
            "nproc": _cores(), "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "default_parallelism": self.default_parallelism,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "java": self.java,
            "python": platform.python_version(),
            "input_rows": rows, "input_bytes": nbytes, "inputs": self.sizes,
            "jobs": self.jobs,
            "protocol": (
                f"closed loop, 1 client; {SETUP_REPS} cold set-ups, each launching "
                "a JVM; 1 cold pass that collects every job's rows, checked "
                "against its DuckDB oracle after the pass; "
                f"{self.steady_passes()} timed passes (--seconds / "
                f"{SECONDS_PER_PASS:g}, at least {MIN_STEADY_PASSES}), noop sink, "
                "force_release_all after each job; pass cost in CPU seconds of the "
                "driver process tree; times scaled to the reference host by a "
                f"calibration kernel ({CAL_REF_S:g} CPU-s there) run before every "
                "pass and after the last"
                + ("; traced run alternates untraced and traced passes for "
                   "--seconds, per-layer metrics are per traced pass" if self.trace else "")
            ),
            "passes": self.passes, "setup_runs_s": setup["setup_runs_s"],
            "setup_cpu_s": setup["setup_cpu_s"],
            "errors": self.errors,
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("relational", "llm_pipeline", "terasort", "stream_replay"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size as a multiple of sf0.1 (default: per workload)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, bool(args.trace))
    sys.path[:0] = [HERE, ROOT]

    runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), args.scale, work)
    try:
        metrics, setup = runner.run()
        meta = runner.meta(setup)
        if args.trace:
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            runner.tracer.dump(
                os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            )
    finally:
        runner.stop()
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

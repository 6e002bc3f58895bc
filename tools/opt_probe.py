#!/usr/bin/env python3
"""Optimization-round probe: capture .explain("formatted") and noop-sink
timings for named inventory entries (guide §1: measure first, isolate the
computation from the sink, label jobs).

Usage:
  python tools/opt_probe.py --plans DIR --suffix _before name1 name2 ...
  python tools/opt_probe.py --time name1 name2 ...        # noop timings only
  python tools/opt_probe.py --plans DIR --time ...        # both

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Timing protocol: one untimed warm-up, then three timed noop-sink
materializations, report all three + min. Owned persists and the cache
are released after the warm-up and after every rep, so each rep builds
the caches it uses (a rep that reused the warm-up's cache would make a
change that removes a persist read slower than it is). The noop sink
computes every column of every row (guide §1.4) so the timing cannot be
flattered by count()-pruning.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "_before"
    do_time = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif a == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif a == "--time":
            do_time = True
            i += 1
        else:
            names.append(a)
            i += 1

    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries
    from hadoop_3_0_0_beta1_gaia_spark.session import get_session, release_owned

    spark = get_session(app_name="gaia-spark-opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    out: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown entry {name}", file=sys.stderr)
            continue
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            release_owned()
            spark.catalog.clearCache()
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(plans_dir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"plan -> {path}", file=sys.stderr)
        if do_time:
            release_owned()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"opt-probe warmup {name}")
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            release_owned()
            spark.catalog.clearCache()
            reps = []
            for rep in range(3):
                spark.sparkContext.setJobDescription(f"opt-probe {name} rep{rep}")
                t0 = time.perf_counter()
                qs[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                reps.append(round(time.perf_counter() - t0, 3))
                release_owned()
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
            out[name] = {"noop_runs": reps, "noop_min": min(reps)}
            print(f"{name}: {reps} min={min(reps)}", file=sys.stderr)
    if do_time:
        print(json.dumps({"sf_dir": SF_DIR, "timings": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

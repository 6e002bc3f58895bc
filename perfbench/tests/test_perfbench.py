"""Tests of the benchmark itself, on inputs at sf0.001 (scale 0.01).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SCALE = "0.01"  # sf0.001: 6k lineitem rows

sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(out_dir: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(out_dir):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generation_is_seeded(tmp_path, workload):
    a = _digest_of(tmp_path / "a", workload, 5)
    b = _digest_of(tmp_path / "b", workload, 5)
    c = _digest_of(tmp_path / "c", workload, 6)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if k not in ("region.parquet", "nation.parquet"))


def _digest_of(path, workload: str, seed: int) -> dict[str, str]:
    gen.generate(workload, seed, float(SCALE), str(path))
    return _digest(str(path))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    meta = json.loads(lines[-2])["meta"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], meta["errors"]
    return result


def test_untraced_metric_names_match_spec():
    result = _run("terasort", 0)
    names = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_metric_names_match_spec():
    result = _run("terasort", 1)
    names = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names


def test_walker_reads_kernel_and_broadcast_metrics(tmp_path):
    """The plan walker finds Python-kernel metrics in dedup_minhash_lsh and
    broadcast metrics in join_broadcast_parts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import all_entries
    from hadoop_3_0_0_beta1_gaia_spark.session import force_release_all, get_session

    spark = get_session(app_name="perfbench-test")
    walker = probes.PlanWalker()
    probes.register_walker(spark, walker)
    try:
        found = {}
        for workload, name in (("llm_pipeline", "dedup_minhash_lsh"),
                               ("relational", "join_broadcast_parts")):
            in_dir = str(tmp_path / workload)
            gen.generate(workload, 3, float(SCALE), in_dir)
            walker.reset()
            all_entries()[name].build(spark, in_dir).write.format("noop").mode(
                "overwrite").save()
            probes.drain_listeners(spark)
            force_release_all(spark)
            assert not walker.errors
            found[name] = walker.totals()
    finally:
        probes.unregister_walker(spark, walker)
    lsh = found["dedup_minhash_lsh"]
    for key in ("functions.python_init_ms", "functions.python_compute_ms",
                "functions.arrow_bytes_sent", "functions.arrow_bytes_received"):
        assert key in lsh
    assert lsh["functions.arrow_bytes_sent"] > 0
    bcast = found["join_broadcast_parts"]
    for key in ("operators.broadcast_build_ms", "operators.broadcast_collect_ms",
                "operators.broadcast_bytes"):
        assert key in bcast
    assert bcast["operators.broadcast_bytes"] > 0

"""Tests of the benchmark itself (kept apart from the repository's tier-1
suite; each smoke run starts its own JVM, ~30-60 s each)::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)

import spec  # noqa: E402

SMOKE_SCALE = {"batch-mix": "0.05", "ingest-micro": "0.2"}


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
    )


def result_line(p: subprocess.CompletedProcess) -> dict:
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("batch-mix", 0), ("batch-mix", 1), ("ingest-micro", 0), ("ingest-micro", 1)],
)
def test_smoke_prints_every_declared_metric_with_its_unit(workload, trace):
    p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", SMOKE_SCALE[workload])
    assert p.returncode == 0, p.stderr[-4000:]
    out = result_line(p)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = spec.PER_LAYER if trace else [(n, u) for n, u, *_ in spec.END_TO_END]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == dict(declared)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_dropped_cluster_rows_trip_the_correctness_check():
    p = bench("--workload", "batch-mix", "--seed", "3", "--seconds", "1", "--trace", "0",
              "--scale", "0.05", "--corrupt", "drop-cluster-rows")
    assert p.returncode == 1
    out = result_line(p)
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1
    assert out["metrics"]["ok_share"]["value"] == 0.0


def test_checks_flag_dropped_rows_split_clusters_and_changed_counts():
    from checks import check_clusters, check_repeat, components, pair_recall

    ids = ["a", "b", "c", "d"]
    good = pd.DataFrame({"clip_id": ids, "cluster_id": ["a", "a", "c", "c"]})
    eligible = [("a", "b"), ("c", "d")]
    assert check_clusters(good, ids, eligible) == (1.0, [])

    recall, problems = check_clusters(good.iloc[:3], ids, eligible)
    assert recall == 0.5 and len(problems) == 2  # missing row + recall below 0.99

    split = good.assign(cluster_id=["a", "b", "c", "c"])
    recall, problems = check_clusters(split, ids, eligible)
    assert recall == 0.5 and problems

    assert pair_recall(eligible, components([("b", "a"), ("d", "c")])) == 1.0
    assert pair_recall([], {}) == 1.0
    assert check_repeat("n", 3, None) == [] and check_repeat("n", 3, 3) == []
    assert check_repeat("n", 3, 4)


def test_install_wraps_the_ingest_operators_and_uninstall_restores_them():
    import tracing as tr
    from simhash_spark.streaming import incremental

    originals = {a: getattr(incremental, a) for a in tr.INGEST_OPERATORS}
    saved = tr.install(tr.Tracer(sc=None))
    try:
        assert all(getattr(incremental, a) is not fn for a, fn in originals.items())
    finally:
        tr.uninstall(saved)
    assert all(getattr(incremental, a) is fn for a, fn in originals.items())


def test_benchmark_json_is_generated_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()


def test_fails_fast_without_the_repository():
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = bench("--workload", "batch-mix", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=bare)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)

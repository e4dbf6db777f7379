"""Differential oracle: the batch pipeline, incremental ingest and the
two-level sharded run must give the same clip partition on one planted
corpus, and every edge any of them verified must pass the reference
verify rule.

The engine has three ways to cluster a corpus (``DedupPipeline.run``,
``IncrementalDedup.ingest`` over micro-batches, ``merge_shard_runs`` over
per-shard runs). Each is rewritten on its own; this test pins that they
agree, member for member, whatever the batch split. The rule re-judge
and the union-find come from the benchmark's own checks
(``perfbench/checks.py``), so the test and the benchmark share one oracle.
Default ``band_group_cap`` only: no band group of this corpus is over it.
"""

from __future__ import annotations

import importlib.util
import os

import pandas as pd

from simhash_spark.plans.pipeline import DedupPipeline
from simhash_spark.plans.shards import merge_shard_runs
from simhash_spark.sources.synth import make_clips
from simhash_spark.streaming.incremental import IncrementalDedup

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "perfbench_checks", os.path.join(REPO, "perfbench", "checks.py")
)
checks = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(checks)

N_CLIPS = 300


def _partition(ids, pairs) -> set[frozenset]:
    """Clip partition of ``ids`` under the components of ``pairs``
    (clips in no pair are singletons)."""
    label = checks.components(pairs)
    groups: dict = {}
    for c in ids:
        groups.setdefault(label.get(c, c), set()).add(c)
    return {frozenset(g) for g in groups.values()}


def _cluster_sets(clusters) -> set[frozenset]:
    """Clip partition of a (clip_id, cluster_id) clusters table."""
    groups = clusters.toPandas().groupby("cluster_id")["clip_id"].apply(set)
    return {frozenset(g) for g in groups}


def _rule_failures(clips_pd: pd.DataFrame, edges: list[tuple[str, str]]) -> list:
    """Edges the numpy reference verify rule rejects."""
    ok = set(checks.eligible_pairs(clips_pd, pd.DataFrame(edges, columns=["a", "b"])))
    return [e for e in edges if e not in ok]


def test_batch_incremental_and_sharded_runs_agree(spark, tmp_path):
    clips_pd, _ = make_clips(N_CLIPS, seed=21)
    ids = clips_pd["clip_id"].tolist()
    clips = spark.createDataFrame(clips_pd)

    pipe = DedupPipeline(spark, str(tmp_path / "batch"))
    batch = _cluster_sets(pipe.run(clips))
    verified = [(r.a, r.b) for r in pipe.store.read("verified_pairs").select("a", "b").collect()]
    assert verified and _rule_failures(clips_pd, verified) == []
    assert batch == _partition(ids, verified)
    assert any(len(g) > 1 for g in batch) and len(batch) < N_CLIPS

    splits = {
        "single": [N_CLIPS],
        "even": [N_CLIPS // 2, N_CLIPS - N_CLIPS // 2],
        "uneven": [40, N_CLIPS - 40],
    }
    for name, sizes in splits.items():
        inc = IncrementalDedup(spark, str(tmp_path / f"inc-{name}"))
        matches, start = [], 0
        for k, size in enumerate(sizes):
            part = spark.createDataFrame(clips_pd.iloc[start : start + size])
            matches += [(r.a, r.b) for r in inc.ingest(part, batch_id=f"{name}-{k}").collect()]
            start += size
        assert _rule_failures(clips_pd, matches) == [], name
        assert _partition(ids, matches) == batch, name

    shard_dirs = []
    for s in range(2):
        shard_dirs.append(str(tmp_path / f"shard{s}"))
        shard = clips_pd.iloc[s::2].reset_index(drop=True)
        DedupPipeline(spark, shard_dirs[-1]).run(spark.createDataFrame(shard))
    merged = merge_shard_runs(spark, shard_dirs, str(tmp_path / "merge"), clips)
    assert _cluster_sets(merged) == batch

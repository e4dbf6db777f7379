"""Correctness oracles for the benchmark's outputs (driver-side, no Spark).

Recall follows ``bin/recall_bench.py``: the denominator is the planted
truth pairs that satisfy the reference verify rule (hamming <= HAM, or
jaccard >= J, or >= 64-char containment), evaluated with the pure-numpy
reference kernels; a pair is found when both clips carry the same cluster
label. Everything is O(truth) — no all-pairs work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from simhash_spark import config as C
from simhash_spark import reference as R

RECALL_MIN = 0.99


def eligible_pairs(clips: pd.DataFrame, truth: pd.DataFrame) -> list[tuple[str, str]]:
    """Planted truth pairs (both ends in ``clips``) that the reference
    verify rule accepts — the recall denominator."""
    text = dict(zip(clips["clip_id"], clips["transcript"]))
    truth = truth[truth["a"].isin(text) & truth["b"].isin(text)]
    if truth.empty:
        return []
    na = R.normalize_batch([text[a] for a in truth["a"]])
    nb = R.normalize_batch([text[b] for b in truth["b"]])
    ham = R.popcount64(
        R.simhash64_from_norm(na).astype(np.uint64) ^ R.simhash64_from_norm(nb).astype(np.uint64)
    )
    jac = R.jaccard_batch(na, nb)
    sub = np.array(
        [R.substring_contained(x, y) or R.substring_contained(y, x) for x, y in zip(na, nb)],
        dtype=bool,
    )
    ok = (ham <= C.VERIFY_HAMMING_MAX) | (jac >= C.VERIFY_JACCARD_MIN) | sub
    return [(a, b) for a, b, e in zip(truth["a"], truth["b"], ok) if e]


def pair_recall(eligible: list[tuple[str, str]], label: dict) -> float:
    """Share of ``eligible`` pairs whose ends share a label (1.0 when there
    is nothing to find)."""
    if not eligible:
        return 1.0
    found = sum(1 for a, b in eligible if a in label and label.get(a) == label.get(b))
    return found / len(eligible)


def components(pairs) -> dict:
    """Union-find labels (root id) over an iterable of (a, b) pairs."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_clusters(clusters: pd.DataFrame, clip_ids, eligible) -> tuple[float, list[str]]:
    """Recall of a (clip_id, cluster_id) table plus its structural
    problems: every input clip must be labelled exactly once."""
    problems = []
    ids = set(clip_ids)
    if len(clusters) != len(ids) or set(clusters["clip_id"]) != ids:
        problems.append(
            f"clusters table has {len(clusters)} rows / "
            f"{clusters['clip_id'].nunique()} ids for {len(ids)} input clips"
        )
    recall = pair_recall(eligible, dict(zip(clusters["clip_id"], clusters["cluster_id"])))
    if recall < RECALL_MIN:
        problems.append(f"dup-pair recall {recall:.4f} < {RECALL_MIN}")
    return recall, problems


def check_repeat(what: str, got, expected) -> list[str]:
    """Counts must repeat exactly between operations on the same input."""
    if expected is not None and got != expected:
        return [f"{what} changed between runs: {got} != {expected}"]
    return []

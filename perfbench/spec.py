"""The benchmark's declared workloads and metrics — one source of truth.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/spec.py`` rewrites it), and ``run.py`` prints exactly
the names declared here, so the two cannot drift apart.
"""

from __future__ import annotations

import json
import os
import sys

RUN_SECONDS = 10

WORKLOADS = [
    (
        "batch-mix",
        "DedupPipeline.run over the planted fixture mix (~20% dups, one-word hot group): "
        "pair side (candidate_pairs, verify, cc) carries the wall; planted truth gives recall",
    ),
    (
        "ingest-micro",
        "closed loop, one micro-batch in flight: IncrementalDedup.ingest of sequential "
        "batches into a fresh state dir, then one replay; stresses appends and pruned reads",
    ),
]

# (name, unit, better, bound)
END_TO_END = [
    ("clips_per_s", "clips/s", "higher", 0.25),
    ("batch_p50_s", "s", "lower", 0.25),
    ("dup_pair_recall", "ratio", "higher", 0.02),
    ("setup_s", "s", "lower", 0.25),
    ("ok_share", "ratio", "higher", 0.01),
]

#: Stage spans of DedupPipeline.run, and the ingest span: the layers the
#: event-log engine metrics are grouped by.
ENGINE_SPANS = ["profile", "bands", "candidate_pairs", "verify", "cc", "ingest"]
ENGINE_METRICS = [
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
    ("jobs", "count"),
    ("tasks", "count"),
]
#: Stages committed through CheckpointStore.write (batch) or .append (ingest).
STORE_STAGES = [
    "profile",
    "bands",
    "candidate_pairs",
    "verified_pairs",
    "cc_labels",
    "clusters",
    "matches",
    "band_index",
    "seen_ids",
]

PER_LAYER = (
    [
        ("profile.s", "s"),
        ("profile.rows", "rows"),
        ("bands.s", "s"),
        ("bands.plan_s", "s"),
        ("bands.rows_per_clip", "ratio"),
        ("candidate_pairs.s", "s"),
        ("candidate_pairs.plan_s", "s"),
        ("candidate_pairs.rows", "rows"),
        ("candidate_pairs.ungated_dropped", "rows"),
        ("candidate_pairs.hot_rows_starred", "rows"),
        ("verify.s", "s"),
        ("verify.plan_s", "s"),
        ("verify.rows_in", "rows"),
        ("verify.rows_out", "rows"),
        ("verify.yield", "ratio"),
        ("verify.rows.exact", "rows"),
        ("verify.rows.hamming", "rows"),
        ("verify.rows.jaccard", "rows"),
        ("verify.rows.substring", "rows"),
        ("cc.s", "s"),
        ("cc.plan_s", "s"),
        ("cc.edges", "rows"),
        ("cc.nodes", "rows"),
        ("cc.fastpath", "count"),
        ("cc.rounds", "count"),
    ]
    + [(f"store.write.mb.{s}", "MB") for s in STORE_STAGES]
    + [(f"store.write.files.{s}", "count") for s in STORE_STAGES]
    + [
        ("store.read.s", "s"),
        ("store.append.s", "s"),
        ("store.read_pruned.s", "s"),
        ("state.files", "count"),
        ("state.mb", "MB"),
        ("pipeline.wall_s", "s"),
        ("pipeline.overhead_s", "s"),
        ("ingest.jobs_per_batch", "count"),
        ("ingest.batch_growth", "ratio"),
        ("ingest.matches", "rows"),
        ("ingest.replay_s", "s"),
    ]
    + [(f"{sp}.{m}", u) for sp in ENGINE_SPANS for m, u in ENGINE_METRICS]
    + [
        ("engine.start_s", "s"),
        ("peak_rss_mb", "MB"),
        ("trace.overhead_share", "ratio"),
        ("scaling.efficiency_1toN", "ratio"),
    ]
)

UNITS = {n: u for n, u, *_ in END_TO_END} | dict(PER_LAYER)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": _better(n)} for n, u in PER_LAYER
        ],
    }


def _better(name: str) -> str:
    if name in ("verify.yield", "cc.fastpath", "scaling.efficiency_1toN"):
        return "higher"
    return "lower"


if __name__ == "__main__":
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(out, "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
    sys.stdout.write(f"wrote {out}\n")

#!/usr/bin/env python
"""Incremental-ingestion drill at bench scale (round 5).

The IncrementalDedup path (append-only bucketed state, watermark-last
exactly-once) is pytest-proven at toy scale; this drill runs it over the
standard 2M synth corpus as K equal micro-batches and measures the two
properties that matter for a long-lived ingest service:

  1. per-batch wall stays ROUGHLY FLAT as the accumulated index grows
     (bucket-pruned state reads: batch K joins against a K x larger
     index than batch 1 — O(new rows) per batch, not O(corpus life)),
  2. replaying an already-watermarked batch token re-emits the SAME
     matches from durable state without recomputation (idempotent
     crash-retry, measured: replay wall and match-count equality),

plus state-size and parquet file-count accounting per batch (append-only:
growth ~ batch rows, in a few bucket-sorted files per table per batch,
sized by rows rather than by touched buckets). The state dir is removed
when the drill ends.

Batches are deterministic hash slices (pmod(xxhash64(clip_id), K)), so
the drill is reproducible bit-for-bit on the cached corpus.

Usage:
  python bin/incremental_bench.py --rows 2000000 --batches 4 --shm
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _du_mb(path: str) -> float:
    out = subprocess.run(["du", "-sm", path], capture_output=True, text=True)
    return float(out.stdout.split()[0]) if out.returncode == 0 else -1.0


def _parquet_files(path: str) -> int:
    return sum(n.endswith(".parquet") for _r, _d, names in os.walk(path) for n in names)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--shm", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from simhash_spark.config import EngineConfig, partitions_for_rows
    from simhash_spark.session import get_spark
    from simhash_spark.streaming.incremental import IncrementalDedup

    cache = "/dev/shm/simhash-bench-clips" if args.shm else "/tmp/simhash-bench-clips"
    corpus = args.corpus or os.path.join(cache, f"scaling-n{args.rows}-seed42")
    if not os.path.exists(os.path.join(corpus, "clips.parquet")):
        raise SystemExit(f"{corpus}/clips.parquet missing — synthesize it first")

    sp = partitions_for_rows(args.rows // args.batches, floor=8)
    spark = get_spark(
        app=f"incremental-bench-{args.rows}",
        master=f"local[{args.cores}]",
        shuffle_partitions=sp,
        extra={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    clips = spark.read.parquet(os.path.join(corpus, "clips.parquet")).select(
        "clip_id", "transcript"
    )

    state_base = "/dev/shm/simhash-inc-state" if args.shm else None
    if state_base:
        os.makedirs(state_base, exist_ok=True)
    state = tempfile.mkdtemp(prefix=f"inc-{args.rows}-", dir=state_base)
    try:
        inc = IncrementalDedup(spark, state, EngineConfig(partitions=sp))

        legs = []
        for k in range(args.batches):
            batch = clips.filter(
                F.pmod(F.xxhash64("clip_id"), F.lit(args.batches)) == k
            )
            t0 = time.time()
            matches = inc.ingest(batch, batch_id=f"drill-{k}")
            n = matches.count()
            wall = time.time() - t0
            legs.append(
                {
                    "batch": k,
                    "rows": batch.count(),
                    "matches": n,
                    "wall_sec": round(wall, 1),
                    "state_mb": _du_mb(state),
                    "state_files": _parquet_files(state),
                }
            )
            print(json.dumps(legs[-1]))

        # replay an already-watermarked token: durable re-emit, no recompute
        replay_batch = args.batches // 2
        batch = clips.filter(
            F.pmod(F.xxhash64("clip_id"), F.lit(args.batches)) == replay_batch
        )
        size_before = _du_mb(state)
        t0 = time.time()
        n_replay = inc.ingest(batch, batch_id=f"drill-{replay_batch}").count()
        replay = {
            "batch": replay_batch,
            "matches": n_replay,
            "matches_first_run": legs[replay_batch]["matches"],
            "wall_sec": round(time.time() - t0, 1),
            "first_run_wall_sec": legs[replay_batch]["wall_sec"],
            "state_mb_before": size_before,
            "state_mb_after": _du_mb(state),
        }
        print(json.dumps({"replay": replay}))
    finally:
        shutil.rmtree(state, ignore_errors=True)

    walls = [l["wall_sec"] for l in legs]
    result = {
        "mode": "incremental-at-scale",
        "rows": args.rows,
        "batches": args.batches,
        "cores": args.cores,
        "partitions": sp,
        "corpus": corpus,
        "legs": legs,
        "replay": replay,
        "wall_first_batch": walls[0],
        "wall_last_batch": walls[-1],
        "last_over_first": round(walls[-1] / walls[0], 3) if walls[0] else None,
        "total_matches": sum(l["matches"] for l in legs),
    }
    out = args.out or os.path.join(
        REPO, "BENCH", f"incremental-n{args.rows}-b{args.batches}.json"
    )
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

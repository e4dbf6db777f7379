#!/usr/bin/env python
"""Five-point back-to-back scaling campaign (tmpfs, fixed sp).

Runs the full checkpointed pipeline at a sequence of core counts
(default 32,8,16,4,2,32 — the repeated T32 brackets box drift across the
campaign), one fresh-JVM subprocess per leg, and writes a single report
with all legs, the doubling efficiencies, and the N->4N pairs the north
rule asks for. This is the assembler behind the headline series in
BENCH/BASELINE.md; bin/scaling_bench.py remains the two-point CLI.

Usage: python bin/scaling_campaign.py [--rows 2000000] [--sp 128]
           [--legs 32,8,16,4,2,32] [--tag win]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bin"))

from scaling_bench import run_at  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--sp", type=int, default=128)
    ap.add_argument("--legs", default="32,8,16,4,2,32")
    ap.add_argument("--tag", default="win")
    args = ap.parse_args()

    # tmpfs everywhere, same storage model as scaling_bench --shm
    cache = "/dev/shm/simhash-bench-clips"
    ckpt_base = "/dev/shm/simhash-bench-ckpt"
    local_dir = "/dev/shm/simhash-bench-local"
    for d in (ckpt_base, local_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", local_dir)
    corpus = os.path.join(cache, f"scaling-n{args.rows}-seed42")
    clips_path = os.path.join(corpus, "clips.parquet")
    if not os.path.exists(os.path.join(corpus, "_DONE")):
        raise SystemExit(f"corpus missing: {corpus} (generate via scaling_bench --shm)")

    out_path = os.path.join(
        REPO, "BENCH", f"scaling-sp{args.sp}-{args.tag}-n{args.rows}-shm.json"
    )
    legs = []
    # crash-safe: persist after every leg so a dead session loses nothing
    if os.path.exists(out_path):
        legs = json.load(open(out_path)).get("legs", [])
    done = len(legs)
    seq = [int(c) for c in args.legs.split(",")]
    for i, cores in enumerate(seq):
        if i < done:
            print(f"leg {i} local[{cores}] already recorded, skipping", file=sys.stderr)
            continue
        print(f"leg {i}: local[{cores}] ...", file=sys.stderr)
        r = run_at(cores, clips_path, ckpt_base, args.sp, args.rows)
        r["order"] = i
        legs.append(r)
        _write(out_path, args, legs)
        print(json.dumps({k: r[k] for k in ("cores", "wall_sec", "rows_per_sec",
                                            "gc_sec", "host_steal_pct")}),
              file=sys.stderr)
    _write(out_path, args, legs)
    print(json.dumps(json.load(open(out_path))["pairs"], indent=1))


def _write(out_path: str, args, legs: list) -> None:
    first = {}
    for leg in legs:  # first occurrence per core count (campaign order)
        first.setdefault(leg["cores"], leg["wall_sec"])
    pairs = {}
    for lo, hi in ((2, 8), (4, 16), (8, 32), (2, 4), (4, 8), (8, 16), (16, 32)):
        if lo in first and hi in first:
            sp_up = first[lo] / first[hi]
            pairs[f"{lo}to{hi}"] = {
                "speedup": round(sp_up, 3),
                "scaling_efficiency": round(sp_up / (hi / lo), 3),
            }
    with open(out_path, "w") as f:
        json.dump(
            {
                "rows": args.rows,
                "storage": "tmpfs",
                "sp": args.sp,
                "legs": legs,
                "pairs": pairs,
                "target": 0.8,
                "ts": time.time(),
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Data-scaling series: fixed parallelism, growing corpus (crash-safe).

The core-scaling campaigns (scaling_campaign.py) hold the DATA fixed and
vary cores — the north rule's N→4N axis. This runner is the complement:
cores fixed (default 8, the count the host provisions cleanly), corpus
grown 0.5M → 2M → 8M rows, partitions data-sized by
``config.partitions_for_rows`` exactly as a cluster would pin them
per-dataset. If rows/s holds ~constant across a 16× data range, nothing
superlinear (pair explosion, driver state, per-stage caps) lurks in the
pipeline — the direct small-scale evidence for the 100× scale-up claim.

Corpora are built with the SHARDED writer at a fixed 500k-row shard size
for every n, so each size has the identical per-shard dup mix and
hot-band group size: the corpus grows by tiling the distribution, the
way a real web-scale corpus grows. (The single-file 2M corpus used by
the core-scaling series has ONE 40k-row hot group instead of four 10k
ones, so its walls are not directly comparable to this series.)

tmpfs budget: each corpus is generated, run, then DELETED before the
next size (8M ≈ 44 GB; /dev/shm also holds Spark shuffle + checkpoints).

Usage: python bin/data_scaling_campaign.py [--cores 8]
           [--sizes 500000,2000000,8000000] [--keep]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bin"))

from scaling_bench import run_at  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--sizes", default="500000,2000000,8000000")
    ap.add_argument("--shard-rows", type=int, default=500_000)
    # 4, not 8: a 500k-row shard transiently peaks ~10 GB in its worker
    # (rows list + pandas + arrow copies), and the 8M corpus already
    # holds 44 GB of tmpfs while the last waves generate — 4 workers
    # keeps peak RSS + tmpfs inside the 126 GB box.
    ap.add_argument("--gen-workers", type=int, default=4)
    ap.add_argument("--keep", action="store_true", help="keep corpora after their leg")
    ap.add_argument("--tag", default="t8")
    args = ap.parse_args()

    from simhash_spark.sources.synth import write_clips_parquet_sharded

    cache = "/dev/shm/simhash-bench-clips"
    ckpt_base = "/dev/shm/simhash-bench-ckpt"
    local_dir = "/dev/shm/simhash-bench-local"
    for d in (ckpt_base, local_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", local_dir)

    out_path = os.path.join(REPO, "BENCH", f"data-scaling-{args.tag}-shm.json")
    legs = []
    # crash-safe: persist after every leg so a dead session loses nothing
    if os.path.exists(out_path):
        legs = json.load(open(out_path)).get("legs", [])
    done_rows = {leg["corpus_rows"] for leg in legs}

    for n in [int(s) for s in args.sizes.split(",")]:
        if n in done_rows:
            print(f"n={n} already recorded, skipping", file=sys.stderr)
            continue
        corpus = os.path.join(cache, f"datascale-n{n}-shard{args.shard_rows}-seed42")
        clips_path = os.path.join(corpus, "clips.parquet")
        marker = os.path.join(corpus, "_DONE")
        if not os.path.exists(marker):
            shutil.rmtree(corpus, ignore_errors=True)  # partial from a dead run
            print(f"generating n={n} (sharded x{args.shard_rows}) ...", file=sys.stderr)
            t0 = time.time()
            # dur_ms_range matches bin/scaling_bench.py's corpus recipe
            # (100-200 ms, ~5 KB/clip): keeps the series comparable to the
            # core-scaling numbers and a 500k shard ~2.5 GB instead of the
            # default mix's ~28 GB.
            write_clips_parquet_sharded(
                corpus,
                n,
                shard_rows=args.shard_rows,
                workers=args.gen_workers,
                dur_ms_range=(100, 200),
            )
            open(marker, "w").write("ok")
            print(f"generated in {time.time() - t0:.0f}s", file=sys.stderr)
        print(f"leg: n={n} local[{args.cores}] ...", file=sys.stderr)
        r = run_at(args.cores, clips_path, ckpt_base, None, n)
        r["corpus_rows"] = n
        legs.append(r)
        _write(out_path, args, legs)
        print(
            json.dumps(
                {k: r[k] for k in ("corpus_rows", "wall_sec", "rows_per_sec", "gc_sec")}
            ),
            file=sys.stderr,
        )
        if not args.keep:
            shutil.rmtree(corpus, ignore_errors=True)
    _write(out_path, args, legs)
    print(json.dumps(json.load(open(out_path))["data_scaling"], indent=1))


def _write(out_path: str, args, legs: list) -> None:
    legs = sorted(legs, key=lambda r: r["corpus_rows"])
    base = legs[0] if legs else None
    series = {}
    for leg in legs:
        if base is None:
            break
        # data-scaling efficiency: rows/s at n vs rows/s at the smallest n
        # (1.0 = perfectly linear in data; >1 = per-row cost amortizes)
        series[str(leg["corpus_rows"])] = {
            "wall_sec": round(leg["wall_sec"], 1),
            "rows_per_sec": round(leg["rows_per_sec"], 1),
            "vs_smallest": round(leg["rows_per_sec"] / base["rows_per_sec"], 3),
        }
    with open(out_path, "w") as f:
        json.dump(
            {
                "protocol": "fixed cores, growing sharded corpus (tiled "
                "distribution), data-sized partitions, tmpfs, fresh JVM per leg",
                "cores": args.cores,
                "shard_rows": args.shard_rows,
                "data_scaling": series,
                "legs": legs,
            },
            f,
            indent=1,
        )
        f.write("\n")


if __name__ == "__main__":
    main()

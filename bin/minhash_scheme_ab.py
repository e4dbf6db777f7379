#!/usr/bin/env python
"""Interleaved pipeline-level A/B of config.MINHASH_SCHEME (crash-safe).

perm128 vs oph-densified at fixed rows/cores on the tmpfs corpus, legs
alternated A/B/A/B in ONE session so box drift cancels (the round-3
lesson: never compare pipeline walls across sessions). The scheme
reaches the subprocess legs via SPARK_GRAFT_MINHASH_SCHEME, which the
pandas-UDF workers read at import (config.py).

Reports per-leg stage walls — the expected signature of a real win is
bands down (kernel is O(shingles) not O(shingles*128)) with
candidate_pairs/verify flat (strided band layout keeps collision math);
a candidate blowup would show up as cp/verify inflation and kills the
flip.

Usage: python bin/minhash_scheme_ab.py [--rows 2000000] [--cores 8]
           [--legs perm128,oph-densified,perm128,oph-densified]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bin"))

from scaling_bench import run_at  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument(
        "--legs", default="perm128,oph-densified,perm128,oph-densified"
    )
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

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

    tag = f"-{args.tag}" if args.tag else ""
    out_path = os.path.join(
        REPO, "BENCH", f"ab-minhash-scheme-t{args.cores}-n{args.rows}{tag}.json"
    )
    legs = []
    if os.path.exists(out_path):
        legs = json.load(open(out_path)).get("legs", [])
    seq = args.legs.split(",")
    for i, scheme in enumerate(seq):
        if i < len(legs):
            print(f"leg {i} ({scheme}) already recorded, skipping", file=sys.stderr)
            continue
        os.environ["SPARK_GRAFT_MINHASH_SCHEME"] = scheme
        print(f"leg {i}: scheme={scheme} local[{args.cores}] ...", file=sys.stderr)
        r = run_at(args.cores, clips_path, ckpt_base, None, args.rows)
        r["scheme"] = scheme
        r["order"] = i
        legs.append(r)
        _write(out_path, args, legs)
        print(
            json.dumps(
                {k: r[k] for k in ("scheme", "wall_sec", "gc_sec", "stage_walls")}
            ),
            file=sys.stderr,
        )
    _write(out_path, args, legs)
    print(json.dumps(json.load(open(out_path))["summary"], indent=1))


def _write(out_path: str, args, legs: list) -> None:
    by = {}
    for leg in legs:
        by.setdefault(leg["scheme"], []).append(leg["wall_sec"])
    summary = {
        s: {"mean_wall": round(sum(w) / len(w), 1), "walls": [round(x, 1) for x in w]}
        for s, w in by.items()
    }
    with open(out_path, "w") as f:
        json.dump(
            {
                "protocol": "interleaved same-session legs, fresh JVM each, "
                "tmpfs corpus+ckpt, scheme via SPARK_GRAFT_MINHASH_SCHEME",
                "rows": args.rows,
                "cores": args.cores,
                "summary": summary,
                "legs": legs,
            },
            f,
            indent=1,
        )
        f.write("\n")


if __name__ == "__main__":
    main()

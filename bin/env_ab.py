#!/usr/bin/env python
"""Interleaved pipeline-level A/B over ONE env knob (crash-safe).

Generalizes bin/minhash_scheme_ab.py: any SPARK_GRAFT_* (or Spark-
reaching) env var, legs alternated A,B,A,B in ONE session on the tmpfs
corpus so box drift cancels — the only comparison protocol that holds
on this host (BENCH/BASELINE.md noise sections). Fresh JVM per leg via
scaling_bench.run_at, so the env var is read at session build / UDF
import like it would be on a real spark-submit.

EXECUTION knobs only: the pipeline output must be identical across
values (this runner measures, it does not gate semantics — scheme flips
that move signatures also need regen_golden + SEMANTICS handling).

Usage: python bin/env_ab.py SPARK_GRAFT_IO_CODEC lz4,zstd,lz4,zstd \
           [--rows 2000000] [--cores 8] [--tag io-codec]
       An empty value ('') means "unset" (Spark default).
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
    ap.add_argument("var", help="env var name the legs flip")
    ap.add_argument("values", help="comma list, one per leg ('' = unset)")
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--sp", type=int, default=None)
    ap.add_argument("--tag", default=None, help="output file tag (default: var name)")
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

    tag = args.tag or args.var.lower().replace("spark_graft_", "").replace("_", "-")
    out_path = os.path.join(
        REPO, "BENCH", f"ab-{tag}-t{args.cores}-n{args.rows}.json"
    )
    legs = []
    if os.path.exists(out_path):
        legs = json.load(open(out_path)).get("legs", [])
    seq = args.values.split(",")
    for i, val in enumerate(seq):
        if i < len(legs):
            print(f"leg {i} ({val or 'unset'}) already recorded, skipping", file=sys.stderr)
            continue
        if val:
            os.environ[args.var] = val
        else:
            os.environ.pop(args.var, None)
        print(f"leg {i}: {args.var}={val or '<unset>'} local[{args.cores}] ...",
              file=sys.stderr)
        r = run_at(args.cores, clips_path, ckpt_base, args.sp, args.rows)
        r["value"] = val or "<unset>"
        r["order"] = i
        legs.append(r)
        _write(out_path, args, legs)
        print(json.dumps({k: r[k] for k in ("value", "wall_sec", "gc_sec",
                                            "stage_walls")}),
              file=sys.stderr)
    _write(out_path, args, legs)
    print(json.dumps(json.load(open(out_path))["summary"], indent=1))


def _write(out_path: str, args, legs: list) -> None:
    by = {}
    for leg in legs:
        by.setdefault(leg["value"], []).append(leg["wall_sec"])
    summary = {
        v: {"mean_wall": round(sum(w) / len(w), 1), "walls": [round(x, 1) for x in w]}
        for v, w in by.items()
    }
    with open(out_path, "w") as f:
        json.dump(
            {
                "protocol": "interleaved same-session legs, fresh JVM each, "
                f"tmpfs corpus+ckpt, knob via {args.var}",
                "rows": args.rows,
                "cores": args.cores,
                "var": args.var,
                "summary": summary,
                "legs": legs,
            },
            f,
            indent=1,
        )
        f.write("\n")


if __name__ == "__main__":
    main()

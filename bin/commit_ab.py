#!/usr/bin/env python
"""Interleaved pipeline-level A/B between TWO COMMITS (crash-safe).

Sibling of bin/env_ab.py for changes that are not env-switchable (e.g.
unconditional kernel rewrites): the control legs run the pipeline from a
read-only git worktree of a reference commit, the treatment legs from
the working tree, alternated A,B,A,B in ONE session on the tmpfs corpus
so box drift cancels (the only comparison protocol that holds on this
host — BENCH/BASELINE.md noise sections). Fresh JVM per leg via the
scaling_bench CHILD template, with sys.path pointed at the leg's tree.

Only valid for VALUE-IDENTICAL changes (this runner measures, it does
not gate semantics — the oracle gate / golden vectors must pass on the
treatment tree first).

Usage: python bin/commit_ab.py [--ctl HEAD~1] [--rows 2000000]
           [--cores 8] [--legs new,old,new,old] [--tag kernel]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bin"))

import scaling_bench  # noqa: E402


def run_leg(repo: str, cores: int, clips_path: str, ckpt_base: str,
            sp: int | None, n_rows: int) -> dict:
    code = scaling_bench.CHILD.format(
        repo=repo, cores=cores, clips_path=clips_path, ckpt_base=ckpt_base,
        sp=sp, n_rows=n_rows,
    )
    s0, t0 = scaling_bench._cpu_jiffies()
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=10800, cwd=repo,
    )
    s1, t1 = scaling_bench._cpu_jiffies()
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[len("RESULT "):])
            r["host_steal_pct"] = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
            return r
    raise RuntimeError(f"leg from {repo} at local[{cores}] failed:\n"
                       f"{out.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ctl", default="HEAD~1", help="control commit-ish")
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--sp", type=int, default=128)
    ap.add_argument("--legs", default="new,old,new,old",
                    help="comma list of new|old, executed in order")
    ap.add_argument("--tag", default="commit")
    args = ap.parse_args()

    ctl_sha = subprocess.run(["git", "rev-parse", args.ctl], cwd=REPO,
                             capture_output=True, text=True,
                             check=True).stdout.strip()
    ctl_dir = f"/dev/shm/simhash-ab-ctl-{ctl_sha[:10]}"
    if not os.path.exists(os.path.join(ctl_dir, "simhash_spark")):
        subprocess.run(["git", "worktree", "add", "--detach", ctl_dir,
                        ctl_sha], cwd=REPO, check=True)

    # tmpfs corpus + checkpoint/local dirs (scaling_bench --shm layout)
    cache = "/dev/shm/simhash-bench-clips"
    ckpt_base = "/dev/shm/simhash-bench-ckpt"
    local_dir = "/dev/shm/simhash-bench-local"
    for d in (ckpt_base, local_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", local_dir)
    corpus = os.path.join(cache, f"scaling-n{args.rows}-seed42")
    clips_path = os.path.join(corpus, "clips.parquet")
    if not os.path.exists(os.path.join(corpus, "_DONE")):
        from simhash_spark.sources.synth import write_clips_parquet

        print(f"synthesizing {args.rows} clips ...", file=sys.stderr)
        write_clips_parquet(corpus, args.rows, seed=42, dur_ms_range=(100, 200))
        open(os.path.join(corpus, "_DONE"), "w").close()

    out_path = os.path.join(
        REPO, "BENCH", f"ab-{args.tag}-t{args.cores}-n{args.rows}.json")
    report = {"ctl": ctl_sha, "new": subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
        text=True, check=True).stdout.strip(),
        "rows": args.rows, "cores": args.cores, "sp": args.sp, "legs": []}
    if os.path.exists(out_path):  # crash-safe resume
        report = json.load(open(out_path))

    legs = args.legs.split(",")
    for i, which in enumerate(legs):
        if i < len(report["legs"]):
            continue
        repo = REPO if which == "new" else ctl_dir
        print(f"leg {i} ({which}) ...", file=sys.stderr)
        r = run_leg(repo, args.cores, clips_path, ckpt_base, args.sp,
                    args.rows)
        r["which"] = which
        report["legs"].append(r)
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
        print(f"  wall {r['wall_sec']:.1f}s stage {r['stage_walls']}",
              file=sys.stderr)

    news = [r["wall_sec"] for r in report["legs"] if r["which"] == "new"]
    olds = [r["wall_sec"] for r in report["legs"] if r["which"] == "old"]
    if news and olds:
        report["mean_new"] = sum(news) / len(news)
        report["mean_old"] = sum(olds) / len(olds)
        report["delta_pct"] = round(
            100 * (report["mean_new"] / report["mean_old"] - 1), 1)
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in
                      ("mean_new", "mean_old", "delta_pct") if k in report}))


if __name__ == "__main__":
    main()

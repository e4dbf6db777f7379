#!/usr/bin/env python
"""Verify-stage scaling microbench (VERDICT r3 #1).

The 8->32 scaling wall's worst stage was verify (efficiency 0.33); whole-
pipeline runs cost ~10-20 min each, so this harness isolates the stage:

  1. --prep: run the pipeline ONCE through candidate_pairs at 32 cores
     on a tmpfs checkpoint (stages before verify are identical inputs for
     every measurement), stopping before verified_pairs.
  2. --cores A B ...: for each core count, copy the prepared checkpoint,
     spawn a fresh JVM, resume the pipeline (prep stages skip; verify +
     cc recompute) and report the verified_pairs MANIFEST wall.

Back-to-back same-session runs only (this box drifts 20-30% across
hours); results go to BENCH/verify-stage-n{rows}.json.

Usage:
  python bin/verify_bench.py --rows 2000000 --prep
  python bin/verify_bench.py --rows 2000000 --cores 8 32
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHM = "/dev/shm/simhash-bench-clips"
CKPT_BASE = "/dev/shm/simhash-verify-bench"

PREP = r"""
import sys, time
sys.path.insert(0, {repo!r})
from simhash_spark.session import get_spark
from simhash_spark.config import EngineConfig
from simhash_spark.plans.pipeline import DedupPipeline
from simhash_spark.operators.lsh import build_bands, candidate_pairs

cores = 32
sp = {sp} or cores * 2
spark = get_spark(app="verify-prep", master=f"local[{{cores}}]",
                  shuffle_partitions=sp,
                  extra={{"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
                          "spark.driver.memory": "24g"}})
clips = spark.read.parquet({clips_path!r})
pipe = DedupPipeline(spark, {ckpt!r}, EngineConfig(partitions=sp))
store, cfg = pipe.store, pipe.cfg
spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(cfg.arrow_batch))
from pyspark.sql import functions as F
from simhash_spark.functions.signatures import profile_udf
t0 = time.time()
if not store.is_committed("profile"):
    profile = clips.select("clip_id", profile_udf("transcript").alias("p")) \
        .select("clip_id", F.xxhash64("clip_id").alias("cid"),
                "p.norm_text", "p.simhash")
    store.write("profile", profile)
profile = store.read("profile")
if not store.is_committed("bands"):
    store.write("bands", build_bands(profile.repartition(sp), profile,
                                     detectors=cfg.detectors))
bands = store.read("bands")
if not store.is_committed("candidate_pairs"):
    store.write("candidate_pairs",
                candidate_pairs(bands, band_group_cap=cfg.band_group_cap,
                                partitions=sp,
                                max_pairs_per_group=cfg.max_pairs_per_group))
print("PREP_DONE", round(time.time() - t0, 1))
"""

CHILD = r"""
import json, sys, time, glob, os
sys.path.insert(0, {repo!r})
from simhash_spark.session import get_spark
from simhash_spark.config import EngineConfig
from simhash_spark.plans.pipeline import DedupPipeline

cores = {cores}
sp = {sp} or cores * 2
spark = get_spark(app=f"verify-bench-{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=sp,
                  extra={{"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
                          "spark.driver.memory": "24g"}})
clips = spark.read.parquet({clips_path!r})
pipe = DedupPipeline(spark, {ckpt!r}, EngineConfig(partitions=sp))
t0 = time.time()
pipe.run(clips)
wall = time.time() - t0
stage_walls = {{}}
for m in glob.glob(os.path.join({ckpt!r}, "*", "MANIFEST.json")):
    d = json.load(open(m))
    stage_walls[os.path.basename(os.path.dirname(m))] = round(d.get("wall_sec", 0.0), 1)
print("RESULT " + json.dumps({{"cores": cores, "resume_wall": round(wall, 1),
                               "stage_walls": stage_walls}}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--prep", action="store_true")
    ap.add_argument("--cores", type=int, nargs="*", default=[])
    ap.add_argument("--tag", default="")
    ap.add_argument("--sp", type=int, default=0)
    args = ap.parse_args()

    clips_path = os.path.join(SHM, f"scaling-n{args.rows}-seed42", "clips.parquet")
    assert os.path.exists(clips_path), f"missing corpus {clips_path}"
    master = os.path.join(CKPT_BASE, f"master-n{args.rows}")

    if args.prep:
        shutil.rmtree(master, ignore_errors=True)
        os.makedirs(master, exist_ok=True)
        code = PREP.format(repo=REPO, clips_path=clips_path, ckpt=master, sp=args.sp)
        t0 = time.time()
        out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                             text=True, timeout=10800, cwd=REPO)
        ok = [ln for ln in out.stdout.splitlines() if ln.startswith("PREP_DONE")]
        if not ok:
            raise RuntimeError(out.stderr[-3000:])
        print(f"prep: {ok[0]} (total {time.time()-t0:.0f}s)")
        return

    results = {}
    for cores in args.cores:
        work = os.path.join(CKPT_BASE, f"work-{cores}")
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(master, work)
        code = CHILD.format(repo=REPO, cores=cores, clips_path=clips_path, ckpt=work, sp=args.sp)
        out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                             text=True, timeout=10800, cwd=REPO)
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
        if not line:
            raise RuntimeError(out.stderr[-3000:])
        results[cores] = json.loads(line[0][len("RESULT "):])
        print(json.dumps(results[cores]))
        shutil.rmtree(work, ignore_errors=True)

    if len(args.cores) >= 2:
        lo, hi = args.cores[0], args.cores[-1]
        vlo = results[lo]["stage_walls"].get("verified_pairs")
        vhi = results[hi]["stage_walls"].get("verified_pairs")
        eff = (vlo / vhi) / (hi / lo) if vlo and vhi else None
        report = {
            "rows": args.rows,
            "results": results,
            "verify_efficiency": round(eff, 3) if eff else None,
            "ts": time.time(),
        }
        name = f"verify-stage-n{args.rows}{('-' + args.tag) if args.tag else ''}.json"
        with open(os.path.join(REPO, "BENCH", name), "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps(report))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository benchmark: seeded dedup workloads through the public
pipeline surfaces, with correctness checks on every operation.

Run from the repository root::

    python3 perfbench/run.py --workload batch-mix --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for the rationale and metric map):

* ``batch-mix``    — ``DedupPipeline.run`` over the FIXTURES.md §1 planted mix.
* ``ingest-micro`` — ``IncrementalDedup.ingest`` of sequential micro-batches
  into a fresh state dir, then one replay of a watermarked batch.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns the Spark
event log on, traces every other timed operation (ABBA order: spans around
the layer calls, one Spark job group per stage span) and prints the
per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run environment. The exit code is 1 when any correctness check
failed, 2 when the repository is not found.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402
import tracing as tr  # noqa: E402

# Sizes at --scale 1. On a 4-core host one pipeline run takes ~5 s and one
# micro-batch ~10 s (both mostly per-job engine overhead, not rows); the
# first of either takes about twice that. A whole run takes 35-50 s, so a
# full set of runs of both workloads stays well inside its time budget.
MIX_ROWS = 20_000
WARMUP_RUNS = 1
#: the median of three drops the one timed run the JIT is still warming
MIN_TIMED_RUNS = 3
#: a traced run needs a whole ABBA block of traced/untraced runs
MIN_TRACED_RUNS = 4
#: costs about what 250 does (per-job overhead), and gives the episode's
#: recall ~185 eligible pairs: one LSH miss, which the product makes now
#: and then on short transcripts, still passes the 0.99 check
INGEST_BATCH_ROWS = 500
#: fixed, so ingest.batch_growth always compares the same batch positions
INGEST_BATCHES = 2
SETUP_REPS = 7
#: stop starting timed operations after this long, so a run ends inside
#: 180 s even on a much slower build
OP_DEADLINE_S = 110.0
HEAP_MB_MAX = 4096


def perf() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def growth(lats: list[float]) -> float:
    """Median latency of the last third of operations over the first third."""
    if not lats:
        return 0.0
    k = max(1, len(lats) // 3)
    return median(lats[-k:]) / median(lats[:k])


def traced_slot(i: int) -> bool:
    """Timed pipeline runs alternate traced/untraced in ABBA order, so the
    tracing overhead is measured against neighbours, not a drift."""
    return i % 4 in (0, 3)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[n for n, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input-size multiplier (tests)")
    ap.add_argument(
        "--corrupt",
        choices=("none", "drop-cluster-rows"),
        default="none",
        help="damage an output before it is checked (tests of the checks)",
    )
    return ap.parse_args(argv)


# -- environment ---------------------------------------------------------------


def pin_environment(root: str, work: str) -> dict:
    """Pin everything the product reads from the environment; everything
    else stays at the product defaults (get_spark() + EngineConfig()).
    Must run before simhash_spark is imported (config reads env at import)."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal"))
    # the stage-GC breather in tableio gates on the used-heap fraction, so
    # the heap size is pinned, not left to the product's 24g default
    heap_mb = min(HEAP_MB_MAX, ram_mb // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # keep the JVM's scratch files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    return {
        "commit": _git_commit(root),
        "source_sha256": _source_digest(root),
        "nproc": nproc,
        "ram_mb": ram_mb,
        "master": f"local[{nproc}]",
        **{k: pinned[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
    }


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest(root: str) -> str:
    """sha256 over simhash_spark/**/*.py: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(os.path.join(root, "simhash_spark")):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


# -- inputs --------------------------------------------------------------------


def mix_corpus(n: int, seed: int):
    """FIXTURES.md §1 clips + planted truth. The audio bytes never enter
    the pipeline (it reads clip_id + transcript), so clips get a tiny fixed
    duration and the column is dropped to keep inputs small."""
    from simhash_spark.sources.synth import make_clips

    clips, truth = make_clips(n, seed=seed, dur_ms_range=(50, 50))
    return clips[["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]], truth


def _forget_udf_plans():
    """Drop the JVM-side function each Python UDF caches on first use. It
    holds the stopped SparkContext's accumulator connection, so after a
    context restart every task would fail to report back to it."""
    from pyspark.sql.udf import UserDefinedFunction

    for obj in gc.get_objects():
        if isinstance(obj, UserDefinedFunction):
            obj._judf_placeholder = None


# -- the benchmark ---------------------------------------------------------------


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.t0 = perf()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.engine_start_s = 0.0
        self.sampler = tr.RssSampler()
        self.eventlog = self.path("eventlog") if args.trace else None
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rows(self, n: int) -> int:
        return max(50, int(n * self.args.scale))

    def out_of_time(self) -> bool:
        return perf() - self.t0 > OP_DEADLINE_S

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg} at {perf() - self.t0:.1f}s", file=sys.stderr, flush=True)

    # -- engine ----------------------------------------------------------------

    def session(self, master: str | None = None, shuffle_partitions: int | None = None):
        """(Re)start the SparkContext with the product defaults (plus the
        event log in a traced run)."""
        from simhash_spark.session import get_spark

        self.stop_session()
        extra = None
        if self.eventlog:
            os.makedirs(self.eventlog, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.eventlog}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = get_spark(
            app=f"perfbench-{self.args.workload}",
            master=master,
            shuffle_partitions=shuffle_partitions,
            extra=extra,
        )
        return self.spark

    def stop_session(self, restart: bool = True):
        """Stop the SparkContext; ``restart`` readies the UDFs for the next
        one (a walk over every Python object, skipped at the final stop)."""
        if self.spark is not None:
            self.spark.stop()
            if restart:
                _forget_udf_plans()
            self.spark = None

    def close(self):
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        self.stop_session(restart=False)
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def setup(self, stage_inputs):
        """Set up SETUP_REPS times (fresh SparkContext + staged inputs);
        setup_s is the median, engine.start_s the first (cold JVM) rep.
        The previous rep's teardown and a GC pass run before the clock
        starts, so a rep times only get_spark() and the staging."""
        times = []
        for _ in range(SETUP_REPS):
            self.stop_session()
            gc.collect()
            t = perf()
            self.session()
            stage_inputs(self.spark)
            times.append(perf() - t)
        self.engine_start_s = times[0]
        self.setup_s = median(times)
        self.log("set up: " + " ".join(f"{x:.3f}" for x in times) + " s")
        if self.args.trace:
            self.tracer = tr.Tracer(self.spark.sparkContext)

    def engine_metrics(self) -> dict:
        """Stop the context (which finalizes its event log) and parse it."""
        self.stop_session()
        logs = [os.path.join(self.eventlog, n) for n in os.listdir(self.eventlog)]
        return tr.engine_metrics(max(logs, key=os.path.getmtime))

    # -- operations ----------------------------------------------------------------

    def op(self, fn):
        """One checked operation: ``fn`` returns (value, problems)."""
        self.attempted += 1
        try:
            value, problems = fn()
        except Exception:  # an operation that raises counts as failed, the run goes on
            traceback.print_exc()
            value, problems = None, ["operation raised"]
        if problems:
            self.failed += 1
            print(f"perfbench: check failed: {problems}", file=sys.stderr)
            return None
        return value

    def timed_op(self, i: int, slot: bool, fn):
        """Timed operation ``i``, traced when --trace 1 and ``slot``.
        ``fn(tracer)`` is the checked operation. Returns (value, traced)."""
        if not (self.args.trace and slot):
            return self.op(lambda: fn(None)), False
        self.tracer.op = str(i)
        saved = tr.install(self.tracer)
        try:
            return self.op(lambda: fn(self.tracer)), True
        finally:
            tr.uninstall(saved)
            self.tracer.op = None

    def e2e(self, clips_per_s, lats, recall) -> dict:
        return {
            "clips_per_s": clips_per_s,
            "batch_p50_s": median(lats),
            "dup_pair_recall": recall,
            "setup_s": self.setup_s,
            "ok_share": 1.0 - self.failed / max(1, self.attempted),
        }

    # -- batch-mix -------------------------------------------------------------------

    def run_batch(self, pdf, truth):
        from checks import check_clusters, check_repeat, eligible_pairs
        from simhash_spark.plans.pipeline import DedupPipeline

        eligible = eligible_pairs(pdf, truth)
        input_dir = self.path("input")
        self.setup(lambda spark: spark.createDataFrame(pdf).write.parquet(input_dir, mode="overwrite"))
        expected = {}

        def pipeline_op(tag: str, tracer=None):
            clips = self.spark.read.parquet(input_dir)
            ckpt = self.path("ckpt", tag)
            pipe = DedupPipeline(self.spark, ckpt)
            t = perf()
            if tracer is None:
                clusters = pipe.run(clips)
            else:
                with tracer.span("pipeline"):
                    clusters = pipe.run(clips)
            wall = perf() - t
            labels = clusters.toPandas()
            if self.args.corrupt == "drop-cluster-rows":
                labels = labels.iloc[: int(len(labels) * 0.99)]
            recall, problems = check_clusters(labels, pdf["clip_id"], eligible)
            counts = {
                s: (pipe.store.read_manifest(s) or {}).get("rows")
                for s in ("candidate_pairs", "verified_pairs", "clusters")
            }
            counts["nontrivial_clusters"] = int((labels["cluster_id"].value_counts() > 1).sum())
            problems += check_repeat("pipeline counts", counts, expected.setdefault("c", counts))
            layers = pipeline_counts(pipe.store, self.spark, ckpt) if tracer else {}
            shutil.rmtree(ckpt, ignore_errors=True)
            return (wall, recall, layers), problems

        for w in range(WARMUP_RUNS):  # JIT, codegen and Python workers warm up
            self.op(lambda: pipeline_op(f"warm{w}"))
        self.log("warmed up")
        walls, traced_walls, recalls, per_op = [], [], [], []
        self.sampler.measuring = True
        deadline = perf() + self.args.seconds
        min_runs = MIN_TRACED_RUNS if self.args.trace else MIN_TIMED_RUNS
        i = 0
        while (i < min_runs or perf() < deadline) and not (i and self.out_of_time()):
            r, traced = self.timed_op(i, traced_slot(i), lambda t: pipeline_op(f"run{i}", t))
            if r:
                recalls.append(r[1])
                if traced:
                    traced_walls.append(r[0])
                    per_op.append({**r[2], **span_metrics(self.tracer.of_op(str(i)))})
                else:
                    walls.append(r[0])
            i += 1
        self.sampler.measuring = False
        self.log(f"{i} timed runs")
        e2e = self.e2e(len(pdf) / median(walls) if walls else 0.0, walls,
                       min(recalls) if recalls else 0.0)
        if not self.args.trace:
            return e2e, None

        ops = [str(j) for j in range(i) if traced_slot(j)]
        layer = merge_per_op(per_op, self.engine_metrics(), ops)
        layer["trace.overhead_share"] = overhead(traced_walls, walls)
        layer["engine.start_s"] = self.engine_start_s
        layer["peak_rss_mb"] = self.sampler.peak_mb
        # single-threaded leg at the same plan width: the north-rule scaling
        # number (shown, not gated: noisy on few shared cores). The context
        # restart brings new Python workers, so one untimed run warms them.
        one_core_s = median(walls) * self.nproc if walls else 0.0
        if walls and perf() - self.t0 + 2 * one_core_s < OP_DEADLINE_S:
            self.eventlog = None
            self.session(master="local[1]", shuffle_partitions=self.nproc)
            self.op(lambda: pipeline_op("local1-warm"))
            r = self.op(lambda: pipeline_op("local1"))
            if r:
                layer["scaling.efficiency_1toN"] = r[0] / median(walls) / self.nproc
        return e2e, layer

    # -- ingest-micro ----------------------------------------------------------------

    def run_ingest(self, pdf, truth):
        from checks import RECALL_MIN, check_repeat, components, eligible_pairs, pair_recall
        from simhash_spark.streaming.incremental import IncrementalDedup

        eligible = eligible_pairs(pdf, truth)
        b = self.rows(INGEST_BATCH_ROWS)
        paths = [self.path("input", f"batch-{k:04d}") for k in range(INGEST_BATCHES)]

        def stage(spark):
            for k, p in enumerate(paths):
                spark.createDataFrame(pdf.iloc[k * b : (k + 1) * b]).write.parquet(p, mode="overwrite")

        self.setup(stage)
        outputs: dict[int, list] = {}

        def ingest_op(inc, k: int, tracer=None, expect=None):
            batch = self.spark.read.parquet(paths[k])
            t = perf()
            if tracer is None:
                rows = inc.ingest(batch, batch_id=f"batch-{k:04d}").collect()
            else:
                with tracer.span("ingest", group="ingest"):
                    rows = inc.ingest(batch, batch_id=f"batch-{k:04d}").collect()
            lat = perf() - t
            got = sorted(tuple(r) for r in rows)
            outputs.setdefault(k, got)
            return (lat, got), check_repeat(f"batch {k} matches", got, expect)

        # warm-up: batch 0 into a throwaway state (JIT, codegen, workers);
        # the timed episode's batch 0 must then repeat its matches exactly
        self.op(lambda: ingest_op(IncrementalDedup(self.spark, self.path("state-warm")), 0))
        self.log("warmed up")
        inc = IncrementalDedup(self.spark, self.path("state"))
        lats, traced_lats, every_lat, per_op, ops = [], [], [], [], []
        self.sampler.measuring = True
        for k in range(INGEST_BATCHES):
            if self.out_of_time():
                break
            # U T: batch 1 is traced, the one with committed state to
            # prune-read, so the store.read_pruned spans are not empty
            r, traced = self.timed_op(
                k, k % 2 == 1, lambda t: ingest_op(inc, k, t, expect=outputs.get(k))
            )
            if r:
                every_lat.append(r[0])
            if r and traced:
                traced_lats.append(r[0])
                per_op.append(span_metrics(self.tracer.of_op(str(k))))
                ops.append(str(k))
            elif r:
                lats.append(r[0])
        self.sampler.measuring = False
        self.log("timed batches")
        state_mb, state_files = tr.dir_size(self.path("state"))

        # the whole episode against planted truth (transitively, as clusters)
        matches = [m for k in sorted(outputs) for m in outputs[k]]
        recall = pair_recall(eligible, components((m[0], m[1]) for m in matches))
        self.op(lambda: (None, [] if recall >= RECALL_MIN else
                         [f"ingest dup-pair recall {recall:.4f} < {RECALL_MIN}"]))
        # replay of a watermarked batch: its stored matches, unchanged
        replay = self.op(lambda: ingest_op(inc, 0, expect=outputs.get(0)))
        self.log("checked")

        e2e = self.e2e(len(lats) * b / sum(lats) if lats else 0.0, lats, recall)
        if not self.args.trace:
            return e2e, None
        layer = merge_per_op(per_op, self.engine_metrics(), ops)
        layer.update({
            "state.mb": state_mb,
            "state.files": state_files,
            "ingest.matches": len(matches),
            "ingest.replay_s": replay[0] if replay else 0.0,
            "ingest.jobs_per_batch": layer["ingest.jobs"],
            "ingest.batch_growth": growth(every_lat),
            "trace.overhead_share": overhead(traced_lats, lats),
            "engine.start_s": self.engine_start_s,
            "peak_rss_mb": self.sampler.peak_mb,
        })
        return e2e, layer

    def run(self):
        wl, seed = self.args.workload, self.args.seed
        if wl == "batch-mix":
            pdf, truth = mix_corpus(self.rows(MIX_ROWS), seed)
        else:
            import numpy as np

            pdf, truth = mix_corpus(self.rows(INGEST_BATCH_ROWS) * INGEST_BATCHES, seed)
            # seeded shuffle: every micro-batch carries the same dup mix, so
            # ingest.batch_growth measures state growth, not a change of content
            order = np.random.Generator(np.random.PCG64(seed)).permutation(len(pdf))
            pdf = pdf.iloc[order].reset_index(drop=True)
        with self.sampler:
            if wl == "ingest-micro":
                return self.run_ingest(pdf, truth)
            return self.run_batch(pdf, truth)


# -- per-layer assembly ------------------------------------------------------------

STAGE_SPANS = ("profile", "bands", "candidate_pairs", "verify", "cc")


def overhead(traced: list[float], untraced: list[float]) -> float:
    return median(traced) / median(untraced) - 1.0 if traced and untraced else 0.0


def pipeline_counts(store, spark, ckpt: str) -> dict:
    """Work counts of one committed pipeline run, from its manifests,
    _metrics.jsonl and the verified_pairs table."""
    rows = {s: (store.read_manifest(s) or {}).get("rows", 0) for s in tr.STAGE_OF_TABLE}
    events = store.metrics()

    def value(name: str) -> float:
        vals = [e["value"] for e in events if e["metric"] == name]
        return float(vals[-1]) if vals else 0.0

    out = {
        "profile.rows": rows["profile"],
        "bands.rows_per_clip": rows["bands"] / rows["profile"] if rows["profile"] else 0.0,
        "candidate_pairs.rows": rows["candidate_pairs"],
        "candidate_pairs.ungated_dropped": value("ungated_pairs_dropped"),
        "candidate_pairs.hot_rows_starred": value("lsh_hot_band_rows_starred"),
        "verify.rows_in": rows["candidate_pairs"],
        "verify.rows_out": rows["verified_pairs"],
        "verify.yield": (
            rows["verified_pairs"] / rows["candidate_pairs"] if rows["candidate_pairs"] else 0.0
        ),
        "cc.edges": rows["verified_pairs"],
        "cc.nodes": rows["cc_labels"],
        "cc.fastpath": 1 if any(e["metric"] == "cc_fastpath_edges" for e in events) else 0,
        "cc.rounds": sum(1 for e in events if e["metric"] == "cc_changed"),
    }
    verified = store.read_manifest("verified_pairs")
    by_method = {}
    if verified and verified.get("rows"):
        by_method = dict(
            spark.read.parquet(verified["data_dir"]).groupBy("method").count().collect()
        )
    for m in ("exact", "hamming", "jaccard", "substring"):
        out[f"verify.rows.{m}"] = by_method.get(m, 0)
    out["state.mb"], out["state.files"] = tr.dir_size(ckpt)
    return out


def span_metrics(spans: list[dict]) -> dict:
    """Per-operation timings and store volumes from one op's spans."""

    def dur(s):
        return s["end"] - s["start"]

    top = [s for s in spans if s["parent"] == "pipeline"]
    out = {}
    for stage in STAGE_SPANS:
        out[f"{stage}.s"] = sum(dur(s) for s in top if s["stage"] == stage)
        # operator calls inside DedupPipeline.run or IncrementalDedup.ingest
        out[f"{stage}.plan_s"] = sum(
            dur(s) for s in spans if s["name"] == f"{stage}.plan" and s["parent"] in ("pipeline", "ingest")
        )
    wall = sum(dur(s) for s in spans if s["name"] == "pipeline")
    out["pipeline.wall_s"] = wall
    out["pipeline.overhead_s"] = wall - sum(out[f"{st}.s"] for st in STAGE_SPANS) if wall else 0.0
    for meth in ("read", "append", "read_pruned"):
        out[f"store.{meth}.s"] = sum(dur(s) for s in spans if s["name"] == f"store.{meth}")
    for table in spec.STORE_STAGES:
        mine = [s for s in spans if s.get("table") == table and "mb" in s]
        out[f"store.write.mb.{table}"] = sum(s["mb"] for s in mine)
        out[f"store.write.files.{table}"] = sum(s["files"] for s in mine)
    return out


def merge_per_op(per_op: list[dict], engine: dict, ops: list[str]) -> dict:
    """Median over traced operations of every per-layer metric (0 where a
    workload does not drive the layer), engine metrics included."""
    layer = {name: 0.0 for name, _ in spec.PER_LAYER}
    for name in layer:
        vals = [p[name] for p in per_op if name in p]
        if vals:
            layer[name] = median(vals)
    for span in spec.ENGINE_SPANS:
        for m, _ in spec.ENGINE_METRICS:
            vals = [engine[(span, op)][m] for op in ops if (span, op) in engine]
            if vals:
                layer[f"{span}.{m}"] = median(vals)
    return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "simhash_spark", "__init__.py")):
        print("perfbench: simhash_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # a left-over of an earlier run with this pid
    env = pin_environment(root, work)
    sys.path.insert(0, root)
    bench = Bench(args, work)
    try:
        e2e, layer = bench.run()
    finally:
        bench.close()
        bench.log("engine stopped")
    # The scratch dir is kept: deleting its thousands of small files took
    # up to 40 s on a shared disk. Remove .perfbench/ when done.

    chosen = layer if args.trace else e2e
    names = [n for n, _ in spec.PER_LAYER] if args.trace else [n for n, *_ in spec.END_TO_END]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": float(chosen[n]), "unit": spec.UNITS[n]} for n in names},
    }
    # spans are held in memory during the run and written once, here
    spans = bench.tracer.spans if bench.tracer else []
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"env": env, "args": vars(args), "end_to_end": e2e, "spans": spans,
                   "result": result}, f)
    print(json.dumps({"perfbench_env": env}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Traced-run machinery for the benchmark.

* ``Tracer`` keeps spans in memory (name, stage, parent, op, start, end)
  and tags every Spark job started inside a stage span with the job group
  ``<stage>#<op>``, so the event log maps jobs back to layers.
* ``install`` wraps, from outside the package, the calls ``DedupPipeline``
  and ``IncrementalDedup`` make into their layers (the operator functions
  they imported and the ``CheckpointStore`` methods). Nothing inside
  ``simhash_spark`` changes; ``uninstall`` restores the originals.
* ``engine_metrics`` parses a Spark event log into per-(span, op) shuffle,
  spill, GC, skew, job and task figures.
* ``RssSampler`` samples the resident memory of this process's children
  (the driver JVM and its Python workers) from ``/proc``.

Spark is lazy: an operator call only builds a plan, and the work runs
inside the ``CheckpointStore.write`` that commits its stage. A stage span
is therefore the operator call (recorded as ``<stage>.plan``) plus the
write of that stage.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: committed table -> the stage span it belongs to (cc_labels is written
#: from inside connected_components, the clusters table right after it).
STAGE_OF_TABLE = {
    "profile": "profile",
    "bands": "bands",
    "candidate_pairs": "candidate_pairs",
    "verified_pairs": "verify",
    "cc_labels": "cc",
    "clusters": "cc",
}

#: operator functions imported by plans/pipeline.py -> their stage span
PIPELINE_OPERATORS = {
    "build_bands": "bands",
    "candidate_pairs": "candidate_pairs",
    "verify_pairs": "verify",
    "connected_components": "cc",
    "assign_clusters": "cc",
}
#: operator functions imported by streaming/incremental.py -> their stage
INGEST_OPERATORS = {
    "build_bands": "bands",
    "verify_pairs": "verify",
}

STORE_METHODS = ("write", "append", "read", "read_pruned")

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op = None  # the benchmark operation the next spans belong to
        self._stack: list[tuple[str, bool]] = []

    @contextmanager
    def span(self, name: str, stage: str | None = None, group: str | None = None):
        """Record one span. ``group`` sets the Spark job group for the
        span's jobs unless an enclosing span already set one."""
        set_group = group is not None and not any(g for _, g in self._stack)
        if set_group:
            self.sc.setLocalProperty(JOB_GROUP, f"{group}#{self.op}")
        rec = {
            "name": name,
            "stage": stage,
            "parent": self._stack[-1][0] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self._stack.append((name, set_group))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if set_group:
                self.sc.setLocalProperty(JOB_GROUP, None)
            self.spans.append(rec)

    def of_op(self, op) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def install(tracer: Tracer) -> list[tuple]:
    """Wrap the layer calls of the pipeline and of the incremental ingest;
    returns what ``uninstall`` needs."""
    from simhash_spark.plans import pipeline
    from simhash_spark.sources.tableio import CheckpointStore
    from simhash_spark.streaming import incremental

    saved = []
    for module, operators in ((pipeline, PIPELINE_OPERATORS), (incremental, INGEST_OPERATORS)):
        for attr, stage in operators.items():
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, _wrap_operator(tracer, fn, stage))
    for meth in STORE_METHODS:
        fn = getattr(CheckpointStore, meth)
        saved.append((CheckpointStore, meth, fn))
        setattr(CheckpointStore, meth, _wrap_store(tracer, fn, meth))
    return saved


def uninstall(saved: list[tuple]) -> None:
    for owner, attr, fn in saved:
        setattr(owner, attr, fn)


def _wrap_operator(tracer: Tracer, fn, stage: str):
    def traced(*args, **kwargs):
        with tracer.span(f"{stage}.plan", stage=stage, group=stage):
            return fn(*args, **kwargs)

    return traced


def _wrap_store(tracer: Tracer, fn, meth: str):
    def traced(self, stage, *args, **kwargs):
        span_stage = STAGE_OF_TABLE.get(stage) if meth == "write" else None
        with tracer.span(f"store.{meth}", stage=span_stage, group=span_stage) as rec:
            out = fn(self, stage, *args, **kwargs)
        rec["table"] = stage
        if meth in ("write", "append") and isinstance(out, dict):
            data_dir = out.get("data_dir") or (out.get("data_dirs") or [None])[-1]
            rec["mb"], rec["files"] = dir_size(data_dir)
        return out

    return traced


def dir_size(path: str | None) -> tuple[float, int]:
    """(MB on disk, parquet file count) under ``path``."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path or ""):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total / 1e6, files


# -- Spark event log ---------------------------------------------------------


def engine_metrics(eventlog: str) -> dict[tuple[str, str], dict]:
    """Parse an uncompressed Spark event log file into
    {(span, op): {shuffle_write_mb, shuffle_read_mb, spill_mb, gc_s,
    task_skew, jobs, tasks}} for every job group ``<span>#<op>``.
    ``task_skew`` is max over median task time in the span's heaviest
    stage (by summed task time)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(eventlog) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get(JOB_GROUP)
                if group:
                    jobs[group] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                tasks[e["Stage ID"]].append(e)

    out: dict[tuple[str, str], dict] = {}
    for group, n_jobs in jobs.items():
        span, _, op = group.rpartition("#")
        m = {"shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
             "task_skew": 0.0, "jobs": n_jobs, "tasks": 0}
        heaviest, heaviest_total = None, -1.0
        for sid, group_of in stage_group.items():
            if group_of != group or not tasks.get(sid):
                continue
            durs = []
            for t in tasks[sid]:
                info, tm = t["Task Info"], t.get("Task Metrics") or {}
                durs.append(info["Finish Time"] - info["Launch Time"])
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                m["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["tasks"] += len(durs)
            if sum(durs) > heaviest_total:
                heaviest, heaviest_total = durs, sum(durs)
        if heaviest:
            med = statistics.median(heaviest)
            m["task_skew"] = max(heaviest) / med if med > 0 else 1.0
        out[(span, op)] = m
    return out


# -- memory ------------------------------------------------------------------


def tree_rss_mb(root_pid: int) -> float:
    """Summed resident memory (MB) of every descendant of ``root_pid`` (not
    itself), as proportional set size: pages a forked Python worker shares
    with its daemon count once, not once per process."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children[ppid].append(int(name))
    total_kb, todo = 0, list(children[root_pid])
    while todo:
        pid = todo.pop()
        todo.extend(children[pid])
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total_kb * 1024 / 1e6


class RssSampler:
    """Background sampler of ``tree_rss_mb`` for this process, active
    only while ``measuring`` is set; ``peak_mb`` is the highest sample."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.measuring = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self):
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            if self.measuring:
                self.peak_mb = max(self.peak_mb, tree_rss_mb(me))

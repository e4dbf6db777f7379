"""Checkpointed table store with atomic publish, lineage and metrics.

Production path is Iceberg (atomic snapshot commits); this sandbox has no
Iceberg jars (SURVEY.md §7.0), so the local backend emulates the two
Iceberg properties the pipeline relies on — atomic publish + readable
manifests — with the reference's own idiom at table scale: write to a
temp dir, fsync, then ATOMIC RENAME of a manifest
(/root/reference/src/Htm/V2.hs:88-94 saves to ``path.1`` then renames).

Layout per stage::

    <base>/<stage>/data-<token>/   parquet files (Spark-written): one dir
                                   per write(), or per append()ed batch
    <base>/<stage>/MANIFEST.json   atomic pointer {token, rows, semantics,...}
    <base>/_lineage.jsonl          append-only stage-commit log (per-file rows)
    <base>/_metrics.jsonl          append-only metrics events

A BUCKETED stage (``append(partition_by=)``, ``layout`` 2 in its
manifest) holds in each batch dir a few parquet files sorted by the
bucket column, and its manifest lists every file with its ``[min, max]``
bucket range. ``read_pruned`` opens only the files whose range meets the
asked buckets, so it lists no directory. The incremental state
(streaming/incremental.py) is three appended tables: ``matches``
(unbucketed, one batch's output per dir), ``band_index`` bucketed by
band key and ``profile`` bucketed by clip id, whose batch token is the
watermark.

A stage is COMMITTED iff MANIFEST.json exists and its semantics
fingerprint matches config.SEMANTICS — a resume under different signature
semantics is refused rather than silently mixed.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simhash_spark import config as C
from simhash_spark.util import flush_deferred_metrics, release_persisted


class IcebergUnavailable(RuntimeError):
    pass


#: On-disk layout of bucketed (``append(partition_by=)``) stages, pinned
#: in their manifests: 2 = bucket-sorted files with per-file bucket
#: ranges in the manifest. Earlier states (``bkt=`` dirs) are refused.
BUCKET_LAYOUT = 2


_SAFE_TOKEN = __import__("re").compile(r"^[A-Za-z0-9_.\-]{1,32}$")


def batch_token(batch_id: str) -> str:
    """Canonical fixed-width, filesystem-safe token for a caller batch id.
    Short safe ids pass through verbatim (internal md5 / stream-batch-N
    tokens are unchanged); anything longer than 32 chars or containing
    path-unsafe characters maps to its md5 hex. The SAME mapping is used
    for the idempotency membership check and the stored token, so a long
    batch_id can never silently lose idempotency (it used to be stored
    truncated to 32 chars but compared in full, so retries re-appended)."""
    if _SAFE_TOKEN.match(batch_id):
        return batch_id
    import hashlib

    return hashlib.md5(batch_id.encode("utf-8")).hexdigest()


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True if an Iceberg catalog is configured AND its classes load.
    The sandbox image ships no iceberg-spark-runtime jar (SURVEY.md §7.0),
    so production code paths gate on this."""
    if not spark.conf.get(f"spark.sql.catalog.{catalog}", None):
        return False
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: SLF001
        return True
    except Exception:
        return False


def stage_gc_enabled(master: str) -> bool:
    """Whether the between-stage JVM breather MAY run at stage commit.

    Default: ON for local masters only — through py4j ``System.gc()``
    reaches just the driver JVM, which in local mode IS the executor
    (where the measured win lives) but on a real cluster is only the
    driver (executors have their own collectors; the call would be a
    pointless driver pause). ``SPARK_GRAFT_STAGE_GC=1/0`` overrides in
    either direction. Even when enabled, the breather is PRESSURE-GATED
    at the call site (``_stage_gc``): a full GC after a stage that only
    churned tens of MB costs more than it saves (measured ~0.3 s per
    commit at sf0.1 — r6), while the 2M-row win it exists for
    (BENCH/pipeline-ab-stagegc-t8-n2000000.json) happens when the heap
    is actually loaded.
    """
    gc_env = os.environ.get("SPARK_GRAFT_STAGE_GC")
    if gc_env is not None:
        return gc_env not in ("", "0")
    return master.startswith("local")


#: Used-heap fraction (of -Xmx) above which the stage-boundary breather
#: fires. Below it the GC is skipped: a lightly-loaded heap has nothing
#: worth compacting and the System.gc() pause is pure overhead. The 2M
#: churn the breather exists for runs the heap far past this.
STAGE_GC_MIN_HEAP_FRAC = float(os.environ.get("SPARK_GRAFT_STAGE_GC_FRAC", "0.3"))


def _stage_gc(spark: SparkSession) -> None:
    """Pressure-gated between-stage System.gc() (see stage_gc_enabled).
    An explicit ``SPARK_GRAFT_STAGE_GC=1`` skips the pressure gate so A/B
    replays of the always-on behavior stay reproducible."""
    try:
        if os.environ.get("SPARK_GRAFT_STAGE_GC") not in ("1",):
            rt = spark.sparkContext._jvm.Runtime.getRuntime()
            used = rt.totalMemory() - rt.freeMemory()
            if used < STAGE_GC_MIN_HEAP_FRAC * rt.maxMemory():
                return
        spark.sparkContext._jvm.System.gc()
    except Exception:  # non-JVM test doubles
        pass


class CheckpointStore:
    """``catalog=None`` (default) -> parquet-manifest backend (this file).
    ``catalog='name'`` -> Iceberg tables ``{catalog}.{namespace}.{stage}``
    via atomic ``createOrReplace`` snapshots; requires the Iceberg runtime
    jar + catalog conf, else raises IcebergUnavailable at construction."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        run_config: dict | None = None,
        catalog: str | None = None,
        namespace: str = "dedup",
    ):
        self.spark = spark
        self.base = base_dir
        self.run_config = run_config or {}
        self.catalog = catalog
        self.namespace = namespace
        if catalog is not None and not iceberg_available(spark, catalog):
            raise IcebergUnavailable(
                f"catalog {catalog!r} not configured or iceberg-spark-runtime "
                "jar missing; use catalog=None for the parquet-manifest backend"
            )
        os.makedirs(base_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "MANIFEST.json")

    # -- commit protocol ---------------------------------------------------
    def is_committed(self, stage: str) -> bool:
        """True if the stage is committed under the CURRENT semantics.
        A manifest committed under DIFFERENT semantics raises — resuming
        would silently recompute (or worse, mix) a possibly-huge
        checkpoint; the operator must delete the checkpoint dir (or pass
        a fresh one) explicitly."""
        if self.catalog is not None:
            return self.spark.catalog.tableExists(
                f"{self.catalog}.{self.namespace}.{stage}"
            )
        m = self.read_manifest(stage)
        if m is None:
            return False
        if m.get("semantics") != _sem_json():
            raise RuntimeError(
                f"stage {stage!r} in {self.base} was committed under different "
                "signature semantics; refusing to resume or rebuild in place — "
                "delete the checkpoint dir to start over"
            )
        return True

    def read_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            m = json.load(f)
        if m.get("bucket_spec") and m.get("layout") != BUCKET_LAYOUT:
            raise RuntimeError(
                f"stage {stage!r} in {self.base} holds bucketed state in an older "
                f"file layout (its manifest pins no layout {BUCKET_LAYOUT}), which "
                "this version cannot read; start a fresh state dir and ingest again"
            )
        return m

    def write(self, stage: str, df: DataFrame) -> dict:
        """Write ``df`` as the committed content of ``stage`` (idempotent
        overwrite). Returns the manifest. Records per-file (=per written
        partition) row counts into _lineage.jsonl. Releases any upstream
        persists recorded via util.track_persisted once the data is on
        disk (the committed parquet supersedes the cache)."""
        if self.catalog is not None:
            # Iceberg path: atomic snapshot replace; lineage from the
            # snapshot's own manifests.
            ident = f"{self.catalog}.{self.namespace}.{stage}"
            df.writeTo(ident).createOrReplace()
            flush_deferred_metrics(df)  # observed aggs rode the write pass
            release_persisted(df)
            manifest = {"stage": stage, "iceberg_table": ident, "semantics": _sem_json()}
            self.append_lineage({"event": "stage_commit", "stage": stage, "table": ident})
            return manifest
        sdir = self._stage_dir(stage)
        os.makedirs(sdir, exist_ok=True)
        token = uuid.uuid4().hex[:12]
        data_dir = os.path.join(sdir, f"data-{token}")
        t0 = time.time()
        df.write.mode("overwrite").parquet(data_dir)
        flush_deferred_metrics(df)  # observed aggs rode the write pass
        release_persisted(df)
        # per-file lineage from parquet FOOTERS (no Spark scan — footer
        # metadata only; on Iceberg this comes free from the snapshot
        # manifest).
        files = _parquet_file_rows(data_dir)
        rows = sum(r["count"] for r in files)
        manifest = {
            "stage": stage,
            "token": token,
            "data_dir": data_dir,
            "rows": rows,
            "n_files": len(files),
            "committed_at": time.time(),
            "wall_sec": time.time() - t0,
            "semantics": _sem_json(),
            "run_config": self.run_config,
            # pinned schema: read() builds the scan from this instead of
            # running a footer schema-inference pass per read (r6 — a
            # pipeline run re-reads every stage it commits, and each
            # inference was its own tiny Spark job).
            "schema": df.schema.json(),
        }
        tmp = self._manifest_path(stage) + f".tmp-{token}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path(stage))  # ATOMIC publish
        # NOTE: older data-<token> dirs are NOT deleted here — like Iceberg
        # snapshots, readers holding the previous version must keep working
        # until an explicit vacuum().
        # Between-stage breather: in LOCAL mode the driver and all executor
        # threads share ONE JVM, and a stage that just churned a multi-GB
        # shuffle leaves the heap fragmented for the next stage. Measured
        # at 2M rows (BENCH/pipeline-ab-stagegc-t8-n2000000.json): the
        # in-pipeline verify stage ran 68.5-71.9 s in the JVM that
        # candidate_pairs had just churned vs 47.7-51.0 s with a stage-
        # boundary System.gc() — which matches the 54.1 s a FRESH JVM
        # scores on the identical committed input. ~1 s per boundary.
        # Default ON for local masters only: through py4j System.gc()
        # reaches just the driver JVM, so on a real cluster it would GC
        # the driver while executors (separate JVMs with their own
        # collectors) are unaffected. SPARK_GRAFT_STAGE_GC=1/0 overrides.
        if stage_gc_enabled(self.spark.sparkContext.master):
            _stage_gc(self.spark)
        self.append_lineage(
            {
                "event": "stage_commit",
                "stage": stage,
                "token": token,
                "rows": rows,
                "files": [
                    {"file": os.path.basename(r["file"]), "rows": r["count"]} for r in files
                ],
                "wall_sec": manifest["wall_sec"],
            }
        )
        return manifest

    def append(
        self,
        stage: str,
        df: DataFrame,
        batch_id: str | None = None,
        partition_by: str | None = None,
        n_buckets: int | None = None,
    ) -> dict:
        """APPEND ``df`` to ``stage`` (Iceberg append-snapshot analog):
        the new batch lands in its own data dir and the manifest's
        ``data_dirs`` list grows by one — per-batch IO is O(new rows),
        never a rewrite of the accumulated table. A ``batch_id`` makes the
        append IDEMPOTENT: a crash-and-retry with the same batch_id is a
        no-op, so state can never bloat across retries.

        ``partition_by`` names the bucket column of a BUCKETED stage.
        The batch is range-clustered and sorted by it before a plain
        parquet write, so AQE sizes the files by rows (a few per batch,
        however many buckets it touches) and each file covers one
        contiguous bucket range. That ``[min, max]`` range is read from
        the file's parquet footer and recorded in the manifest's
        ``files`` list, which is what ``read_pruned`` prunes by (the
        Iceberg manifest column-range analog). Range, not hash,
        clustering: a hash-clustered file spans almost every bucket, so
        its range could never prune. The spec (column + ``n_buckets``)
        and ``layout`` are pinned in the manifest on first append; a
        later append under a different spec is REFUSED — silently mixing
        bucket layouts would make pruned reads miss rows.
        """
        if self.catalog is not None:
            # partition_by is not applied to the Iceberg table: it is
            # written unclustered and read back whole (read_pruned is
            # parquet-manifest only)
            ident = f"{self.catalog}.{self.namespace}.{stage}"
            df.writeTo(ident).append()
            flush_deferred_metrics(df)
            release_persisted(df)
            self.append_lineage(
                {"event": "stage_append", "stage": stage, "table": ident, "batch_id": batch_id}
            )
            return {"stage": stage, "iceberg_table": ident, "semantics": _sem_json()}
        m = self.read_manifest(stage)
        if m is not None and m.get("semantics") != _sem_json():
            raise RuntimeError(
                f"stage {stage!r} was committed under different signature semantics; "
                "refusing to append (delete the checkpoint dir to rebuild)"
            )
        dirs = list(_data_dirs(m)) if m else []
        tokens = list(m.get("batch_tokens", [])) if m else []
        token = batch_token(batch_id) if batch_id is not None else uuid.uuid4().hex[:32]
        if token in tokens:
            release_persisted(df)
            return m  # idempotent retry: this batch is already in the table
        spec = {"col": partition_by, "n": n_buckets} if partition_by else None
        if m is not None and m.get("bucket_spec") != spec:
            raise RuntimeError(
                f"stage {stage!r} was committed with bucket_spec "
                f"{m.get('bucket_spec')!r}; refusing to append under {spec!r} "
                "(pruned reads would miss rows across mixed layouts)"
            )
        sdir = self._stage_dir(stage)
        os.makedirs(sdir, exist_ok=True)
        data_dir = os.path.join(sdir, f"data-{token}")
        t0 = time.time()
        out = df
        if partition_by:
            out = df.repartitionByRange(partition_by).sortWithinPartitions(partition_by)
        out.write.mode("overwrite").parquet(data_dir)
        flush_deferred_metrics(df)
        release_persisted(df)
        files = _parquet_file_rows(data_dir, range_col=partition_by)
        rows = sum(r["count"] for r in files)
        manifest = {
            "stage": stage,
            "data_dirs": dirs + [data_dir],
            "batch_tokens": tokens + [token],
            "bucket_spec": spec,
            # schema pinned at FIRST append (later batches must match the
            # table layout anyway); see write() — read() skips inference.
            "schema": (m.get("schema") if m else None) or df.schema.json(),
            "rows": (m.get("rows", 0) if m else 0) + rows,
            "n_files": (m.get("n_files", 0) if m else 0) + len(files),
            "committed_at": time.time(),
            "wall_sec": time.time() - t0,
            "semantics": _sem_json(),
            "run_config": self.run_config,
        }
        if spec:
            # one entry per non-empty file, path relative to the stage dir
            manifest["layout"] = BUCKET_LAYOUT
            manifest["files"] = (m["files"] if m else []) + [
                {
                    "file": os.path.join(os.path.basename(data_dir), r["file"]),
                    "rows": r["count"],
                    "min": r["min"],
                    "max": r["max"],
                }
                for r in files
                if r["count"]
            ]
        tmp = self._manifest_path(stage) + f".tmp-{token[:12]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path(stage))  # ATOMIC publish
        self.append_lineage(
            {
                "event": "stage_append",
                "stage": stage,
                "batch_id": batch_id,
                "rows_appended": rows,
                "files": [
                    {"file": os.path.basename(r["file"]), "rows": r["count"]} for r in files
                ],
                "wall_sec": manifest["wall_sec"],
            }
        )
        return manifest

    def read(self, stage: str) -> DataFrame:
        if self.catalog is not None:
            return self.spark.read.table(f"{self.catalog}.{self.namespace}.{stage}")
        m = self.read_manifest(stage)
        if m is None:
            raise FileNotFoundError(f"stage {stage!r} not committed under {self.base}")
        if m.get("semantics") != _sem_json():
            raise RuntimeError(
                f"stage {stage!r} was committed under different signature semantics; "
                "refusing to resume (delete the checkpoint dir to rebuild)"
            )
        if m.get("bucket_spec"):
            return self.read_pruned(stage, values=None)
        return self._scan(m, _data_dirs(m))

    def _scan(self, m: dict, paths: list[str]) -> DataFrame:
        """Parquet scan of ``paths`` under the manifest's pinned schema —
        passing it skips the per-read footer-inference job (r6). Falls
        back to inference for pre-schema manifests."""
        reader = self.spark.read
        if m.get("schema"):
            reader = reader.schema(_schema(m))
        return reader.parquet(*paths)

    def bucket_spec(self, stage: str) -> dict | None:
        """The pinned {col, n} bucket layout of ``stage`` (None if the
        stage is unbucketed or uncommitted)."""
        m = self.read_manifest(stage)
        return m.get("bucket_spec") if m else None

    def pruned_paths(self, stage: str, values=None) -> list[str]:
        """The exact data files a (pruned) read of bucketed ``stage``
        touches: the manifest's files whose recorded bucket range meets
        ``values`` (None = all files); no directory is listed. Exposed so
        tests can assert read-side pruning is real, not planner luck."""
        files = self._bucketed_manifest(stage)["files"]
        if values is not None:
            want = sorted({int(v) for v in values})
            files = [f for f in files if _meets(want, f["min"], f["max"])]
        return [os.path.join(self._stage_dir(stage), f["file"]) for f in files]

    def read_pruned(self, stage: str, values=None) -> DataFrame:
        """Read ONLY the rows in buckets ``values`` of a bucketed stage —
        the O(touched) state read an incremental micro-batch needs
        instead of scanning the whole accumulated table (VERDICT r2 #3).
        The scan opens only the files whose manifest range meets
        ``values``, under the pinned schema; a ``bucket IN (values)``
        filter then drops the other buckets those files hold.
        Lossless for equi-joins keyed by the bucketed column: a matching
        row can only live in its own bucket. The bucket column is
        dropped (readers join on the data columns)."""
        m = self._bucketed_manifest(stage)
        col = m["bucket_spec"]["col"]
        paths = self.pruned_paths(stage, values)
        if not paths:
            df = self.spark.createDataFrame([], _schema(m))
        else:
            df = self._scan(m, paths)
        if values is not None:
            df = df.filter(F.col(col).isin(sorted({int(v) for v in values})))
        return df.drop(col)

    def _bucketed_manifest(self, stage: str) -> dict:
        m = self.read_manifest(stage)
        if m is None or not m.get("bucket_spec"):
            raise FileNotFoundError(f"no bucketed stage {stage!r} under {self.base}")
        return m

    def has_batch(self, stage: str, batch_id: str) -> bool:
        """True iff ``batch_id``'s append to ``stage`` is durably committed
        (i.e. a retry with this id would be a no-op)."""
        m = self.read_manifest(stage)
        return m is not None and batch_token(batch_id) in m.get("batch_tokens", [])

    def read_batch(self, stage: str, batch_id: str, schema: str | None = None) -> DataFrame:
        """Read back ONLY the rows appended under ``batch_id`` — the
        durable per-batch output a replayed micro-batch must re-emit
        instead of recomputing (an empty recompute would overwrite the
        batch's real output; see streaming/incremental.py). ``schema``
        is the fallback for an empty batch whose data dir holds no
        parquet parts."""
        m, data_dir, files = self._batch_files(stage, batch_id)
        if not files:
            if schema is None:
                raise FileNotFoundError(
                    f"batch {batch_id!r} of stage {stage!r} has no parquet parts "
                    "and no fallback schema was given"
                )
            return self.spark.createDataFrame([], schema)
        return self._scan(m, [data_dir])

    def batch_rows(self, stage: str, batch_id: str) -> int:
        """Row count of ``batch_id``'s append to ``stage``, from its
        parquet footers (no Spark job)."""
        return sum(r["count"] for r in self._batch_files(stage, batch_id)[2])

    def _batch_files(self, stage: str, batch_id: str) -> tuple[dict, str, list[dict]]:
        m = self.read_manifest(stage)
        token = batch_token(batch_id)
        if m is None or token not in m.get("batch_tokens", []):
            raise FileNotFoundError(f"batch {batch_id!r} not in stage {stage!r}")
        data_dir = os.path.join(self._stage_dir(stage), f"data-{token}")
        return m, data_dir, _parquet_file_rows(data_dir) if os.path.isdir(data_dir) else []

    def invalidate_from(self, stages: list[str], first_dirty: str) -> None:
        """Drop manifests of ``first_dirty`` and all later stages."""
        if first_dirty not in stages:
            return
        for s in stages[stages.index(first_dirty) :]:
            p = self._manifest_path(s)
            if os.path.exists(p):
                os.remove(p)

    def vacuum(self, stage: str | None = None) -> None:
        """Delete data dirs not referenced by the current manifest
        (Iceberg expire_snapshots analog). Only call when no reader may
        hold an older version."""
        stages = [stage] if stage else [
            s for s in os.listdir(self.base)
            if os.path.isdir(self._stage_dir(s)) and not s.startswith("_")
        ]
        for s in stages:
            m = self.read_manifest(s)
            keep = {os.path.basename(d) for d in _data_dirs(m)} if m else set()
            sdir = self._stage_dir(s)
            for name in os.listdir(sdir):
                if name.startswith("data-") and name not in keep:
                    shutil.rmtree(os.path.join(sdir, name), ignore_errors=True)

    # -- lineage & metrics ---------------------------------------------------
    def append_lineage(self, event: dict) -> None:
        _append_jsonl(os.path.join(self.base, "_lineage.jsonl"), {**event, "ts": time.time()})

    def append_metric(self, name: str, value, **tags) -> None:
        _append_jsonl(
            os.path.join(self.base, "_metrics.jsonl"),
            {"metric": name, "value": value, "ts": time.time(), **tags},
        )

    def metrics(self) -> list[dict]:
        p = os.path.join(self.base, "_metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]


def _data_dirs(m: dict) -> list[str]:
    """Data dirs of a manifest — single-dir (write) or multi-dir (append)."""
    if "data_dirs" in m:
        return m["data_dirs"]
    return [m["data_dir"]] if m.get("data_dir") else []


def _parquet_file_rows(data_dir: str, range_col: str | None = None) -> list[dict]:
    """Per-file row counts from parquet footers (no Spark job); with
    ``range_col``, also that column's ``min``/``max`` over the file's
    row-group statistics (None for an empty file)."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, names in sorted(os.walk(data_dir)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                md = pq.ParquetFile(p).metadata
                r = {"file": os.path.relpath(p, data_dir), "count": md.num_rows}
                if range_col:
                    stats = [
                        rg.column(j).statistics
                        for rg in map(md.row_group, range(md.num_row_groups))
                        for j in range(rg.num_columns)
                        if rg.column(j).path_in_schema == range_col
                    ]
                    r["min"] = min((s.min for s in stats), default=None)
                    r["max"] = max((s.max for s in stats), default=None)
                out.append(r)
    return out


def _meets(sorted_values: list[int], lo: int, hi: int) -> bool:
    """True iff some value of ``sorted_values`` lies in ``[lo, hi]``."""
    i = bisect.bisect_left(sorted_values, lo)
    return i < len(sorted_values) and sorted_values[i] <= hi


def _schema(m: dict):
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(m["schema"]))


def _sem_json() -> dict:
    return json.loads(json.dumps(C.SEMANTICS))


def _append_jsonl(path: str, obj: dict) -> None:
    with open(path, "a") as f:
        f.write(json.dumps(obj) + "\n")

"""Stage orchestration: clips -> clusters, checkpointed + resumable.

Stage DAG (each committed atomically via CheckpointStore; a re-run skips
every committed stage — idempotent resume, SURVEY.md §5.2 item 5):

    profile          (clip_id, cid, norm_text, simhash)
    bands            (cid, bkey)       packed long key, operators/lsh.py
    candidate_pairs  (a, b, det)       a/b = cid int64
    verified_pairs   (a, b, det, method, hamming, jaccard)  a/b = clip_id
    clusters         (clip_id, cluster_id)

The interior (bands -> candidate_pairs -> verify joins) is keyed on
``cid = xxhash64(clip_id)`` int64 — an order-balanced interleaved A/B
vs the string-keyed engine (BENCH/ab-id-key-t8-n2000000.json, 2M rows,
T8) measured candidate_pairs -20..42%%, verify -26%%, whole pipeline
-12%% (profile/bands flat); verify maps back to clip_id strings at its
output boundary, so the two user-facing tables (verified_pairs,
clusters) keep string ids. Two clip_ids that share one 64-bit cid fail
verify's map-back instead of corrupting output; there is no fallback
key yet (a collision-free row id is ROADMAP.md item D6).

``profile`` fuses normalization and the simhash signature into ONE stage
table: one Arrow pass over the corpus, and verify joins a single side
table instead of two.

The audio ``bytes`` column never enters the pipeline — it stays in the
source table and is re-joined by clip_id on demand (pass-through
invariant, BASELINE.json input_hint).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simhash_spark.config import EngineConfig
from simhash_spark.functions.signatures import profile_udf
from simhash_spark.operators.cc import assign_clusters, connected_components
from simhash_spark.operators.lsh import build_bands, candidate_pairs
from simhash_spark.operators.verify import verify_pairs
from simhash_spark.sources.tableio import CheckpointStore

STAGES = [
    "profile",
    "bands",
    "candidate_pairs",
    "verified_pairs",
    "cc_labels",
    "clusters",
]


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        cfg: EngineConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.store = CheckpointStore(spark, checkpoint_dir, run_config=self.cfg.to_dict())

    def run(self, clips: DataFrame) -> DataFrame:
        """Run (or resume) the full pipeline; returns the clusters table."""
        t0 = time.time()
        cfg, store = self.cfg, self.store
        n_part = cfg.partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        # cfg.arrow_batch bounds the rows per Arrow batch entering every
        # pandas UDF (signature kernels size their numpy buffers off it).
        self.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(cfg.arrow_batch)
        )
        sink = store.append_metric

        if not store.is_committed("profile"):
            # fused normalize+simhash UDF: ONE Arrow crossing per row
            # (chained normalize_udf -> simhash64_udf would be two
            # dependent Python evals in the plan)
            # cid = xxhash64(clip_id): the int64 key the hot interior
            # (bands/candidate_pairs/verify joins) runs on — the
            # interleaved A/B vs string keys measured cp -20..42% /
            # verify -26% / pipeline -12% (BENCH/ab-id-key-t8-
            # n2000000.json). Deterministic across runs/partitionings, so
            # resume-safe; the cid<->clip_id map rides this table for
            # free. Collision odds are birthday(n, 2^64) — ~3e-8 at 1M
            # rows; at 10^12 rows a deployment should widen to a
            # 128-bit id (two-column key) — documented in COVERAGE.md.
            profile = clips.select(
                "clip_id", profile_udf("transcript").alias("p")
            ).select(
                "clip_id",
                F.xxhash64("clip_id").alias("cid"),
                "p.norm_text",
                "p.simhash",
            )
            store.write("profile", profile)
        profile = store.read("profile")

        if not store.is_committed("bands"):
            # Row-balanced repartition BEFORE the band branches: the
            # profile checkpoint is short compressed text, so byte-based
            # split sizing (maxPartitionBytes) yields far fewer tasks
            # than cores once the per-row minhash/gram kernels dominate
            # — measured at 2M rows/tmpfs the ~12 splits capped the
            # whole stage at 12-way parallelism (bands wall ~240 s at 32
            # cores ~= the largest straggler, not the core count). One
            # explicit exchange costs O(profile) bytes and is REUSED by
            # all four union branches (ReuseExchange — audited in
            # BENCH/PLANS.md); task granularity then follows rows (CPU
            # cost), not compressed bytes.
            bands = build_bands(
                profile.repartition(n_part),
                profile,
                detectors=cfg.detectors,
            )
            store.write("bands", bands)
        bands = store.read("bands")

        if not store.is_committed("candidate_pairs"):
            pairs = candidate_pairs(
                bands,
                band_group_cap=cfg.band_group_cap,
                partitions=n_part,
                max_pairs_per_group=cfg.max_pairs_per_group,
                metrics_sink=sink,
            )
            store.write("candidate_pairs", pairs)
        pairs = store.read("candidate_pairs")

        if not store.is_committed("verified_pairs"):
            verified = verify_pairs(pairs, profile)
            store.write("verified_pairs", verified)
        verified = store.read("verified_pairs")

        if not store.is_committed("clusters"):
            # edge count from the committed manifest (no counting job):
            # lets CC take its driver fast path when the verified graph
            # is bounded — identical labels, none of the per-round loop
            # overhead (operators/cc.py, r6).
            ver_manifest = store.read_manifest("verified_pairs") or {}
            cc = connected_components(
                verified,
                max_iters=cfg.cc_max_iters,
                metrics_sink=sink,
                store=store,  # durable mid-loop checkpoints + kill/resume
                checkpoint_every=cfg.cc_checkpoint_every,
                n_edges_hint=ver_manifest.get("rows"),
            )
            clusters = assign_clusters(clips.select("clip_id"), cc)
            store.write("clusters", clusters)
        clusters = store.read("clusters")

        store.append_metric("pipeline_wall_sec", time.time() - t0)
        return clusters

    def dup_pairs_from_clusters(self) -> DataFrame:
        """All intra-cluster pairs (a < b) implied by the clusters table —
        the pipeline's asserted duplicate-pair set (recall numerator).
        O(sum cluster_size^2): evaluation-time helper for test scales, not
        a production artifact (production reports cluster membership)."""
        clusters = self.store.read("clusters")
        nontrivial = clusters.groupBy("cluster_id").agg(
            F.count("*").alias("sz")
        ).filter(F.col("sz") >= 2)
        members = clusters.join(nontrivial.select("cluster_id"), "cluster_id")
        x = members.alias("x")
        y = members.alias("y")
        return (
            x.join(y, "cluster_id")
            .where(F.col("x.clip_id") < F.col("y.clip_id"))
            .select(F.col("x.clip_id").alias("a"), F.col("y.clip_id").alias("b"))
        )

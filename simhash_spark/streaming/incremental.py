"""Streaming / incremental ingestion — the reference's serving mode
(EP3: /root/reference/app/simhash-runner.hs:163-177, a periodic job-queue
worker pulling one document at a time) re-expressed two ways:

1. ``IncrementalDedup`` — batch-over-new-snapshots: sign + band + match
   ONLY the clips added since the last committed watermark, joining the
   new bands against the accumulated band index. All state tables are
   APPEND-ONLY (CheckpointStore.append — the Iceberg append-snapshot
   analog): per-batch write IO is O(new rows), never a rewrite of the
   accumulated index, and a deterministic per-batch token makes every
   append idempotent under crash-and-retry (state can never bloat).
   Matches go through the SAME verify tier as the batch pipeline
   (operators/verify.py), so incremental and batch answers have
   identical semantics: VERIFIED duplicates, not raw band collisions.
2. ``streaming_signatures`` — Structured Streaming: readStream over a
   clips directory -> signature UDFs -> sink; used with
   ``trigger(availableNow=True)`` for incremental batch or a continuous
   trigger for serving.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simhash_spark.config import EngineConfig
from simhash_spark.functions.signatures import normalize_udf, profile_udf, simhash64_udf
from simhash_spark.operators.lsh import build_bands, dedupe_pairs, det_id_col
from simhash_spark.operators.verify import verify_pairs
from simhash_spark.sources.tableio import CheckpointStore
from simhash_spark.util import local_ckpt, unpersist_ckpts


class IncrementalDedup:
    """Micro-batch incremental near-dup matcher.

    State tables (in a CheckpointStore, all append-only; the two
    accumulated tables are BUCKETED at the store layer, the Iceberg
    bucket-partitioning analog: each batch adds a few parquet files
    sorted by ``bkt``, and the manifest records every file's bucket
    range — see sources/tableio.py):
      matches     (a, b, det, method, hamming, jaccard) — per-batch output
      band_index  (clip_id, bkey)                    bkt = pmod(bkey, n)
      profile     (clip_id, norm_text, simhash)      bkt = pmod(xxhash64(clip_id), n)
    ``profile`` doubles as the watermark: a clip is seen iff its
    profile row is committed, and a batch is committed iff its token is
    in ``profile``'s manifest.

    Read-side pruning (VERDICT r2 #3): a micro-batch's joins only touch
    the buckets its own keys hash into, so each state read opens only the
    files whose recorded bucket range meets those buckets, then filters
    ``bkt IN (touched)`` — per-batch read IO is O(touched buckets), not
    O(corpus life), and no directory is listed. Pruning is lossless
    because every join here is an equi-join on the bucketed key (bkey
    for the candidate join, clip_id for the watermark anti-join and the
    verify side table): a matching row can only live in its key's
    bucket. ``n_buckets`` is pinned in each stage's manifest on first
    append; mixed layouts are refused, and so is a state written before
    the manifest pinned ``layout`` 2 (start a fresh state dir for it).

    Per-batch fixed cost: the deduped candidate pairs are truncated by an
    eager local checkpoint, so verify plans over one leaf rather than the
    whole ingest lineage. Those blocks are not durable: a lost executor
    fails the batch while ``matches`` is being appended, before any state
    is committed, and the idempotent retry recomputes the batch.

    ``ingest(new_clips)`` returns VERIFIED duplicate pairs
    (a, b, det, method, hamming, jaccard) of new clips against the
    existing index (and among themselves) — the same schema and verify
    rule as the batch pipeline's verified_pairs stage.

    Crash safety: the batch token is deterministic (caller-supplied, or a
    hash of the fresh clip_ids), and every state append is idempotent on
    that token. The appends run in a fixed order: ``matches`` (the
    batch's output), then ``band_index``, then ``profile`` (the watermark)
    LAST. A crash anywhere leaves a retry that re-appends nothing already
    committed and returns the stored matches: a retry after ``matches``
    committed recomputes, but its ``matches`` append is a no-op (a retry
    after ``band_index`` also joins the batch's bands against its own
    committed rows; ``dedupe_pairs`` and the no-op append absorb that).
    A retry whose token is already in ``profile`` re-reads the stored
    matches instead of recomputing — recomputing would see an empty fresh
    set and silently replace the batch's real duplicates with an empty
    result (the exactly-once hole ADVICE r2 found in the foreachBatch
    wiring). The hot-group metric is logged only by the call whose
    ``matches`` append wrote the batch, so a retry never logs it twice.
    """

    MATCHES_SCHEMA = (
        "a string, b string, det string, method string, hamming int, jaccard double"
    )
    PROFILE_SCHEMA = "clip_id string, norm_text string, simhash long"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg: EngineConfig | None = None,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.store = CheckpointStore(spark, state_dir, run_config=self.cfg.to_dict())
        # adopt the layout pinned by an existing state (n_buckets is a
        # hint for NEW state only — re-bucketing committed dirs would
        # make pruned reads compute the wrong bucket ids)
        spec = self.store.bucket_spec("band_index")
        self.n_buckets = int(spec["n"]) if spec else int(n_buckets)

    def _id_bkt(self, col: str):
        return F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(self.n_buckets)).cast(
            "int"
        )

    def _touched(self, df: DataFrame, bkt_col) -> list[int]:
        """Distinct bucket ids a micro-batch's keys hash into — a bounded
        driver-side collect (<= n_buckets values)."""
        return [r[0] for r in df.select(bkt_col.alias("b")).distinct().collect()]

    def _state_pruned(self, name: str, schema: str, buckets: list[int]) -> DataFrame:
        if not self.store.is_committed(name):
            return self.spark.createDataFrame([], schema)
        return self.store.read_pruned(name, values=buckets)

    def ingest(self, clips: DataFrame, batch_id: str | None = None) -> DataFrame:
        if batch_id is not None and self.store.has_batch("profile", batch_id):
            # Fully-committed replay (e.g. the stream's output write failed
            # AFTER ingest returned): every clip is already watermarked, so
            # a recompute would produce an empty fresh set — return the
            # batch's durably stored matches instead.
            return self.store.read_batch("matches", batch_id, self.MATCHES_SCHEMA)
        id_bkts = self._touched(clips, self._id_bkt("clip_id"))
        seen = self._state_pruned("profile", self.PROFILE_SCHEMA, id_bkts).select("clip_id")

        fresh = clips.join(seen, "clip_id", "left_anti")
        prof_new = (
            fresh.select("clip_id", profile_udf("transcript").alias("p"))
            .select("clip_id", "p.norm_text", "p.simhash")
            .persist()
        )
        new_bands = (
            # legacy string ids: the incremental state tables
            # (band_index/profile) are clip_id-keyed, and
            # verify_pairs dispatches to its string path on these pairs.
            build_bands(
                prof_new, prof_new, detectors=self.cfg.detectors, id_col="clip_id"
            )
            .withColumn("bkt", F.pmod(F.col("bkey"), F.lit(self.n_buckets)).cast("int"))
            .persist()
        )
        band_bkts = self._touched(new_bands, F.col("bkt"))
        index = self._state_pruned("band_index", "clip_id string, bkey long", band_bkts)

        if batch_id is None:
            # deterministic token over the batch's id set -> idempotent
            # retries (micro-batches are small; one driver-side row).
            row = prof_new.agg(
                F.md5(F.concat_ws("\x00", F.sort_array(F.collect_list("clip_id")))).alias("h")
            ).first()
            batch_id = row["h"] or hashlib.md5(b"empty").hexdigest()

        # --- candidate collisions (band hits, counted per detector) -----
        # HOT-GROUP CAPPING (same contract as lsh.candidate_pairs): a band
        # group larger than band_group_cap ACROSS (index ∪ batch) would
        # make the per-bkey join quadratic inside one task — the skew a
        # long-lived ingest service is guaranteed to hit (boilerplate,
        # all-silence transcripts, the same page crawled a million times).
        # Over-cap groups divert to linear STAR edges against a hub that
        # stays transitively connected ACROSS batches: hub = min clip_id
        # over index ∪ batch; if this batch introduces a NEW global hub,
        # one bridge edge (new hub, index hub) keeps the old star and the
        # new star in one component. Once a group goes hot it stays hot
        # (the index side only grows), so the topology never flip-flops.
        # Diverted row counts are logged to _metrics — never silent.
        keys = ["bkey"]
        cap = self.cfg.band_group_cap
        idx_sizes = index.groupBy(*keys).agg(
            F.count("*").alias("idx_n"), F.min("clip_id").alias("idx_hub")
        )
        sizes = (
            new_bands.groupBy(*keys)
            .agg(F.count("*").alias("new_n"), F.min("clip_id").alias("new_hub"))
            .join(idx_sizes, keys, "left")
            .select(
                *keys,
                (F.col("new_n") + F.coalesce("idx_n", F.lit(0))).alias("grp_n"),
                "new_n",
                F.least(
                    "new_hub", F.coalesce("idx_hub", F.col("new_hub"))
                ).alias("hub"),
                "idx_hub",
            )
            .persist()
        )
        nb_sized = new_bands.join(sizes.select(*keys, "grp_n", "hub"), keys)
        cold = nb_sized.filter(F.col("grp_n") <= cap).select(*keys, "clip_id")
        hot = nb_sized.filter(F.col("grp_n") > cap)

        vs_old = cold.join(
            index.select(*keys, F.col("clip_id").alias("other_id")), keys, "inner"
        ).filter(F.col("clip_id") != F.col("other_id"))
        nb = cold.select(*keys, F.col("clip_id").alias("other_id"))
        vs_new = cold.join(nb, keys, "inner").filter(
            F.col("clip_id") < F.col("other_id")
        )
        pair_cols = lambda df, l, r: df.select(  # noqa: E731
            F.least(l, r).alias("a"),
            F.greatest(l, r).alias("b"),
            det_id_col("bkey").alias("det_id"),
            F.lit(0).alias("starred"),
        )
        star = (
            hot.filter(F.col("clip_id") != F.col("hub"))
            .select(
                F.least("clip_id", "hub").alias("a"),
                F.greatest("clip_id", "hub").alias("b"),
                det_id_col("bkey").alias("det_id"),
                F.lit(1).alias("starred"),
            )
        )
        bridge = (
            sizes.filter(
                (F.col("grp_n") > cap)
                & F.col("idx_hub").isNotNull()
                & (F.col("hub") < F.col("idx_hub"))
            )
            .select(
                F.col("hub").alias("a"),
                F.col("idx_hub").alias("b"),
                det_id_col("bkey").alias("det_id"),
                F.lit(1).alias("starred"),
            )
        )
        coll = (
            pair_cols(vs_old, "clip_id", "other_id")
            .unionByName(pair_cols(vs_new, "clip_id", "other_id"))
            .unionByName(star)
            .unionByName(bridge)
        )
        # short lineage for verify; not durable (see the class docstring)
        pairs, pairs_h = local_ckpt(dedupe_pairs(coll))

        # --- VERIFY: identical rule/tiers as the batch pipeline. The
        # verify side table is pruned to the buckets of the ids that
        # actually occur in pairs (bounded collect: pairs are the small
        # post-banding survivor set), plus the batch's own profiles.
        pair_ids = pairs.select(F.col("a").alias("pid")).unionByName(
            pairs.select(F.col("b").alias("pid"))
        )
        pid_bkts = self._touched(pair_ids, self._id_bkt("pid"))
        prof_old = self._state_pruned("profile", self.PROFILE_SCHEMA, pid_bkts)
        profile_all = prof_old.unionByName(prof_new)
        verified = verify_pairs(pairs, profile_all)

        # --- commit state: idempotent appends in the order of the class
        # docstring — output first, watermark (profile) LAST. Once
        # profile holds this token, `matches` provably holds the batch's
        # output, so the replay fast-path above can always serve it back.
        # The append itself materializes `verified` (one pass) and
        # releases the verify tier's internal persists.
        writes_matches = not self.store.has_batch("matches", batch_id)
        self.store.append("matches", verified, batch_id=batch_id)
        unpersist_ckpts([pairs_h])
        if writes_matches:
            # hot-group accounting IMMEDIATELY after the matches commit
            # (ADVICE r5: appended last, a crash between the state appends
            # lost the 'never silent' log line for a batch whose matches
            # were already durable), and only by the call that wrote them:
            # a retry would log the batch twice, with its own committed
            # band_index rows counted in grp_n. `rows` counts this batch's
            # MEMBERSHIP of over-cap groups (new rows landing in hot
            # groups, the group's hub row included) — the group-size view
            # of the diversion, not an edge count.
            hot_stats = sizes.filter(F.col("grp_n") > cap).agg(
                F.count("*").alias("groups"),
                F.coalesce(F.sum("new_n"), F.lit(0)).alias("rows"),
            ).first()
            if int(hot_stats["groups"]):
                self.store.append_metric(
                    "incremental_hot_band_rows_starred",
                    int(hot_stats["rows"]),
                    batch_id=batch_id,
                    groups=int(hot_stats["groups"]),
                    cap=cap,
                )
        self.store.append(
            "band_index",
            new_bands,
            batch_id=batch_id,
            partition_by="bkt",
            n_buckets=self.n_buckets,
        )
        self.store.append(
            "profile",
            prof_new.withColumn("bkt", self._id_bkt("clip_id")),
            batch_id=batch_id,
            partition_by="bkt",
            n_buckets=self.n_buckets,
        )
        sizes.unpersist()
        new_bands.unpersist()
        prof_new.unpersist()
        self.store.append_metric(
            "incremental_ingest_matches",
            self.store.batch_rows("matches", batch_id),
            batch_id=batch_id,
        )
        # Serve the durable copy: parquet-backed, fault-tolerant, replayable.
        return self.store.read_batch("matches", batch_id, self.MATCHES_SCHEMA)


def streaming_signatures(
    spark: SparkSession,
    input_dir: str,
    schema: str = "clip_id string, transcript string",
) -> DataFrame:
    """Structured Streaming source -> per-clip signatures (unbounded).
    Start with e.g.::

        q = (streaming_signatures(spark, dir)
             .writeStream.format("memory").queryName("sigs")
             .trigger(availableNow=True).start())
    """
    stream = spark.readStream.schema(schema).parquet(input_dir)
    norm = stream.select("clip_id", normalize_udf("transcript").alias("norm_text"))
    return norm.select(
        "clip_id",
        simhash64_udf("norm_text").alias("simhash"),
    )

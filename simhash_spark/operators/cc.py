"""Connected components over verified duplicate pairs.

Iterative DataFrame min-label propagation (the north_star's required
"iterative DataFrame connected-components (label-propagation) join loop"):

    labels(id, comp) starts at comp = id;
    each round every vertex takes min(comp) over itself and its
    neighbors; stop when no label changed.

Converges in O(diameter) rounds — duplicate clusters are near-cliques
(LSH links most members directly), so diameter is small in practice; the
star edges from hot bands add hub-spoke diameter 2.

Fault tolerance at scale (SURVEY.md §4.2 item 3):

- every round the plan is truncated with ``localCheckpoint`` (one action
  per round, fused with the convergence Observation) — but executor loss
  loses a localCheckpoint, so when a ``store`` (CheckpointStore) is
  passed the labels table is ALSO committed durably every
  ``checkpoint_every`` rounds, and the loop RESUMES from the committed
  labels on restart (min-label propagation is monotonic + idempotent:
  restarting from any intermediate label state reaches the same
  fixpoint).
- localCheckpoint storage is bounded to ~2 rounds: once round r is
  materialized, round r-1's blocks are explicitly unpersisted (a
  long-lived driver must not accumulate O(iterations) cached RDDs).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_spark.util import local_ckpt, unpersist_ckpts

#: Edge-count ceiling for the driver-side union-find fast path (r6
#: optimization, guide §1.2: the distributed min-label loop costs one
#: Spark job PER ROUND plus the edge symmetrize/dedup job — ~2.8 s of
#: fixed overhead at sf0.1 for a graph that fits in one pandas frame).
#: The fast path only engages when the CALLER passes a bounded
#: ``n_edges_hint`` (the pipeline reads it from the verified_pairs
#: manifest — no counting job), so an unhinted call can never collect an
#: unbounded edge list; above the ceiling the iterative loop runs as
#: before. 2M edges ~ a few hundred MB of driver pandas at string ids —
#: the same order as the bounded collects the engine already allows.
CC_DRIVER_MAX_EDGES = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_MAX", "2000000"))


def _cc_labels_numpy(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Min-label connected components over edge index arrays (u, v) on
    nodes 0..n-1 — vectorized hook + pointer-doubling (no per-edge
    Python). Returns root index per node where root = the node whose
    label is the component minimum under INDEX order (callers map
    indices so that index order == the id order min-label propagation
    uses)."""
    L = np.arange(n, dtype=np.int64)
    while True:
        before = L.copy()
        m = np.minimum(L[u], L[v])
        np.minimum.at(L, u, m)
        np.minimum.at(L, v, m)
        while True:  # pointer doubling to a fixpoint
            L2 = L[L]
            if np.array_equal(L2, L):
                break
            L = L2
        if np.array_equal(L, before):
            return L


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    metrics_sink=None,
    store=None,
    stage: str = "cc_labels",
    checkpoint_every: int = 5,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """edges(a, b) -> labels(clip_id, cluster_id) for every vertex that
    appears in an edge. cluster_id = min clip_id of the component.

    ``store``: optional CheckpointStore for durable mid-loop checkpoints
    (every ``checkpoint_every`` rounds) and kill/resume: if ``stage`` is
    already committed, iteration continues from the stored labels instead
    of restarting from scratch.

    ``n_edges_hint``: the caller's KNOWN edge count (e.g. from the
    verified_pairs manifest — no counting job). When given and <=
    CC_DRIVER_MAX_EDGES, the components are computed with a driver-side
    vectorized union-find over the collected edge list instead of the
    iterative join loop — identical labels (min id per component, same
    fixpoint), none of the per-round job overhead. Unhinted or over-
    ceiling calls run the distributed loop unchanged, so the collect is
    bounded by construction.
    """
    e = edges.select("a", "b")
    if (
        n_edges_hint is not None
        and 0 <= n_edges_hint <= CC_DRIVER_MAX_EDGES
    ):
        return _connected_components_driver(e, metrics_sink, store, stage)
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym, sym_h = local_ckpt(sym.dropDuplicates(["a", "b"]))

    resumed = store is not None and store.is_committed(stage)
    prev_h: list = []  # handle(s) of the CURRENT round's checkpointed labels
    if resumed:
        labels = store.read(stage)
        if metrics_sink is not None:
            metrics_sink("cc_resume", 1, stage=stage)
    else:
        labels, h = local_ckpt(
            sym.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
        )
        prev_h = [h]

    from pyspark.sql import Observation

    for it in range(max_iters):
        # neighbor-min: for each dst, min comp over incoming neighbors.
        nbr_min = (
            sym.join(labels, sym["a"] == labels["id"], "inner")
            .select(F.col("b").alias("id"), F.col("comp"))
            .groupBy("id")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        obs = Observation(f"cc_iter_{it}")
        new_labels, new_h = local_ckpt(  # one action per round: ckpt + observed count
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "new_comp"
                ),
                "comp",
            )
            .observe(
                obs, F.sum((F.col("new_comp") != F.col("comp")).cast("long")).alias("changed")
            )
            .select("id", F.col("new_comp").alias("comp"))
        )
        changed = int(obs.get["changed"] or 0)
        # round r is materialized -> free round r-1's localCheckpoint blocks.
        unpersist_ckpts(prev_h)
        prev_h = [new_h]
        labels = new_labels
        if metrics_sink is not None:
            metrics_sink("cc_changed", changed, iteration=it)
        if store is not None and changed > 0 and (it + 1) % checkpoint_every == 0:
            # durable mid-loop checkpoint: survives executor/driver loss.
            store.write(stage, labels)
            labels = store.read(stage)
            unpersist_ckpts(prev_h)
            prev_h = []
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iters} iters")

    if store is not None:
        # final state durable + plan rebased onto parquet, so every
        # CC-internal localCheckpoint (incl. sym and the last round) can
        # be freed immediately.
        store.write(stage, labels)
        labels = store.read(stage)
        unpersist_ckpts(prev_h)
        prev_h = []
    # sym is CC-internal either way: the returned labels never reference it.
    unpersist_ckpts([sym_h])

    return labels.select(F.col("id").alias("clip_id"), F.col("comp").alias("cluster_id"))


def _connected_components_driver(
    e: DataFrame, metrics_sink, store, stage: str
) -> DataFrame:
    """Driver-side fast path (see connected_components docstring): the
    caller certified the edge list is bounded; compute min-label
    components with the vectorized numpy kernel and keep the SAME
    durable-checkpoint contract (labels committed to ``store`` under
    ``stage``; a committed stage — e.g. a mid-loop checkpoint from a
    killed iterative run — is folded in as extra (id, comp) edges, which
    is exact because every stored comp is a node of the same component)."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = e.sparkSession
    id_type = e.schema["a"].dataType
    pdf = e.toPandas()
    cols = [pdf["a"].to_numpy(), pdf["b"].to_numpy()]
    resumed = store is not None and store.is_committed(stage)
    if resumed:
        lbl = store.read(stage).toPandas()
        cols += [lbl["id"].to_numpy(), lbl["comp"].to_numpy()]
        if metrics_sink is not None:
            metrics_sink("cc_resume", 1, stage=stage)
    flat = np.concatenate(cols) if cols else np.empty(0, dtype=object)
    # np.unique sorts, so index order == id order and the kernel's
    # min-INDEX root is exactly the min-id label the loop converges to.
    ids, inv = np.unique(flat, return_inverse=True)
    half = len(pdf)
    u = inv[:half]
    v = inv[half : 2 * half]
    if resumed:
        rest = inv[2 * half :]
        ru, rv = rest[: len(rest) // 2], rest[len(rest) // 2 :]
        u = np.concatenate([u, ru])
        v = np.concatenate([v, rv])
    roots = (
        _cc_labels_numpy(u, v, len(ids))
        if len(ids)
        else np.empty(0, dtype=np.int64)
    )
    out = pd.DataFrame({"id": ids, "comp": ids[roots] if len(ids) else ids})
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )
    labels = spark.createDataFrame(out, schema=schema)
    if metrics_sink is not None:
        metrics_sink("cc_fastpath_edges", int(half), nodes=int(len(ids)))
    if store is not None:
        store.write(stage, labels)
        labels = store.read(stage)
    return labels.select(F.col("id").alias("clip_id"), F.col("comp").alias("cluster_id"))


def assign_clusters(all_ids: DataFrame, cc_labels: DataFrame) -> DataFrame:
    """all_ids(clip_id) + cc_labels -> clusters(clip_id, cluster_id) for
    EVERY clip; singletons get cluster_id = own clip_id."""
    return (
        all_ids.join(cc_labels, "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce(F.col("cluster_id"), F.col("clip_id")).alias("cluster_id"),
        )
    )

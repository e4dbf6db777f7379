"""Small shared runtime utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def track_persisted(df: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Record persisted upstream DataFrames on ``df`` so whoever
    materializes it (CheckpointStore.write) can unpersist them — a
    long-lived driver (incremental/serving mode) must not leak executor
    storage across runs."""
    df._persisted_deps = getattr(df, "_persisted_deps", []) + list(deps)
    return df


def release_persisted(df: DataFrame) -> None:
    """Unpersist every dependency recorded by ``track_persisted``."""
    for dep in getattr(df, "_persisted_deps", []):
        try:
            dep.unpersist()
        except Exception:
            pass
    df._persisted_deps = []


def local_ckpt(df: DataFrame):
    """Eager localCheckpoint + a DIRECT handle to the checkpointed RDD
    (the LogicalRDD the new plan is rebased onto), for ``unpersist_ckpts``.
    Truncates the lineage: later plans over the result analyze one leaf
    instead of the whole upstream plan. Releasing through the handle
    frees exactly what the caller created — a set-diff over the context's
    global getPersistentRDDs map would attribute concurrently-persisted
    blocks (a streaming query, a second pipeline on the same session) to
    the caller and unpersist them out from under their owners (ADVICE r2).

    The blocks live in executor storage only: losing an executor loses
    them, and any job still reading the result fails (no recompute)."""
    cdf = df.localCheckpoint()
    return cdf, cdf._jdf.queryExecution().analyzed().rdd()


def unpersist_ckpts(handles) -> None:
    """Free the blocks of ``local_ckpt`` handles (non-blocking)."""
    for h in handles:
        try:
            h.unpersist(False)
        except Exception:
            pass


def defer_metric(df: DataFrame, observation, key: str, emit) -> DataFrame:
    """Record an Observation-backed metric on ``df`` to be flushed by
    whoever materializes it (CheckpointStore.write / flush_deferred_metrics):
    the observed aggregate is computed FOR FREE by that action's pass —
    no extra job, no cache — and ``emit(value)`` is called afterwards.
    Contract mirrors track_persisted (in-place attribute, same object)."""
    df._deferred_metrics = getattr(df, "_deferred_metrics", []) + [(observation, key, emit)]
    return df


def flush_deferred_metrics(df: DataFrame) -> None:
    """Emit every metric recorded by ``defer_metric``. Call ONLY after an
    action has materialized ``df`` (Observation.get blocks otherwise).

    If the observed plan node was PRUNED at runtime (AQE empty-relation
    propagation removes CollectMetrics when a join side comes up empty),
    Observation.get raises — the emit callback then receives ``None``
    and must fall back to whatever accounting is correct for its metric
    (usually 0 for an empty input; operators whose pruned case is
    non-zero recompute eagerly, e.g. operators/overlap.py)."""
    for obs, key, emit in getattr(df, "_deferred_metrics", []):
        try:
            value = obs.get[key]
        except Exception:
            value = None
        emit(value)
    df._deferred_metrics = []


class releasing:
    """Context manager for DIRECT consumers of a track_persisted result
    (ones that collect/count it themselves instead of routing it through
    CheckpointStore.write, which releases automatically): guarantees the
    recorded persists are dropped when the block exits, so a long-lived
    driver doesn't leak executor storage (ADVICE r2)::

        with releasing(audio_dup_pairs(clips)) as pairs:
            rows = pairs.collect()
    """

    def __init__(self, df: DataFrame):
        self.df = df

    def __enter__(self) -> DataFrame:
        return self.df

    def __exit__(self, *exc) -> None:
        release_persisted(self.df)

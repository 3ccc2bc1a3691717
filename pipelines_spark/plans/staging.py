"""Staging: the one way engine code materializes an intermediate.

Iterative and multi-consumer operators (pagerank,
connected_components, the dedup family, curation, …) must materialize
shared intermediates and cut their lineage, or the logical plan grows
with the iteration count and every consumer recomputes its upstream.
:func:`stage` is the only way engine code does that.

Release is scoped. The caller that owns the action (a bench loop, a
script, a streaming micro-batch body, a test) opens
:func:`staging_scope` around building and running the plan. Every
frame ``stage`` produces inside it registers with the innermost open
scope, and the scope unpersists their blocks on exit —
deterministically, not whenever the JVM happens to GC. An action on a
staged frame after its scope has closed fails on the missing
checkpoint block; it never silently recomputes. Operators never open
a scope around a frame they return. Outside any scope the blocks are
freed by the ContextCleaner once the frame is garbage-collected. The
open scope is held in a ``ContextVar``, so each thread (e.g. each
foreachBatch callback) sees only its own.

Durability is a speed trade the caller owns:

- ``"local"`` (default): ``DataFrame.localCheckpoint`` — blocks live
  in executor storage (memory, spilling to local disk). Fastest, no
  configuration, released by the scope as above. BUT lineage is
  discarded, so losing an executor loses the blocks unrecoverably and
  fails the job. Right for single-node runs, short jobs, and anything
  cheap to rerun.

- ``"checkpoint"``: ``DataFrame.checkpoint`` — blocks are written to
  the reliable checkpoint directory (HDFS / object store on a
  cluster; ``spark.sparkContext.setCheckpointDir`` must have been
  called). One extra write+read round-trip per staging point, but a
  lost executor re-reads instead of failing — the right posture for
  100 TB multi-hour jobs where preemption is routine and restarting
  a 20-round components loop costs more than the checkpoint writes.
  Scopes do not own these: checkpoint files persist until the
  checkpoint dir is cleaned
  (``spark.cleaner.referenceTracking.cleanCheckpoints=true`` opts
  into GC-driven cleanup).

See docs/SCALE.md ("Durable staging for iterative operators") for
the measured trade.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

STAGING_MODES = ("local", "checkpoint")

#: frames staged under the innermost open :func:`staging_scope` of the
#: current thread/context; ``None`` outside any scope
_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("staging_scope", default=None)


def widen_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition an input whose SCAN produced far fewer
    partitions than the session's parallelism — the guide §2.5
    "input skew" remedy (one huge unsplittable file / single-row-group
    parquet / gzip: repartition immediately after the read) made
    scale-adaptive: a no-op whenever the scan is already at least
    half-parallel, which is every real multi-row-group/multi-file
    table, so the exchange exists ONLY where the input's physical
    layout would otherwise pin the whole map side of the operator to
    one core.

    Why it matters here (r12, measured): the bench corpora are
    single-row-group parquet files, so every scan is ONE task and all
    map-side work riding it — shingling, text gates, hash projections
    — ran 1/32-parallel. The repartition moves a few hundred KB once
    and parallelizes everything downstream of it (including
    staging tables, whose block count it sets). Rows only ever carry
    (id, payload) through a round-robin exchange — no keyed semantics
    — and every consumer in this repo is partitioning-order-exact by
    the rounding/integer-sum discipline, so results are unchanged.
    """
    import os

    if os.environ.get("SPARK_GRAFT_NO_WIDEN"):  # measurement kill-switch
        return df
    sc = df.sparkSession.sparkContext
    n = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= n:
        return df
    return df.repartition(n)


def stage(df: DataFrame, *, eager: bool = True, staging: str = "local") -> DataFrame:
    """Materialize ``df`` (or lazily mark it for materialization at
    its first action when ``eager=False``) and cut its lineage, under
    the chosen durability mode. A ``"local"`` frame belongs to the
    innermost open :func:`staging_scope`."""
    if staging == "checkpoint":
        return df.checkpoint(eager=eager)
    if staging != "local":
        raise ValueError(f"staging must be one of {STAGING_MODES}, got {staging!r}")
    out = df.localCheckpoint(eager=eager)
    frames = _SCOPE.get()
    if frames is not None:
        frames.append(out)
    return out


@contextmanager
def staging_scope() -> Iterator[list[DataFrame]]:
    """Own every frame :func:`stage` produces until exit, then
    unpersist their checkpoint blocks. Yields the list of frames
    staged so far (for inspection; do not mutate)."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield frames
    finally:
        _SCOPE.reset(token)
        for f in frames:
            f._jdf.logicalPlan().rdd().unpersist(False)

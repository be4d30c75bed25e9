"""One superstep loop for the iterative DataFrame algorithms.

Each algorithm supplies only its per-superstep update (the Pregelix
argument: write the superstep once as a reusable plan, let the algorithm
supply the step). The step callback builds the next state, lazily
``localCheckpoint``-s it and runs the ONE Spark action that both
materializes it and returns the per-block stats rows; everything else of
the checkpoint contract lives here:

- resume from the latest complete superstep under ``checkpoint_dir/run_id``
  (a run whose last manifest says converged returns at once), refusing a
  resume whose result-affecting parameters differ from the checkpointed
  ones — two computations must never be mixed in one run;
- the durable write (parquet + manifest, re-read as the next state) or,
  in memory, :func:`~.fsio.truncate_stats` every
  :data:`~.fsio.STATS_RESET_EVERY` unconverged supersteps;
- release of the previous state's cache and checkpoint blocks;
- the lineage entry per superstep and the convergence break.

``wall_ms`` is the step's own time, measured before the checkpoint write
(the manifest's ``wall_ms`` additionally includes the write).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpointing import CheckpointManager, SuperstepCheckpoint
from .fsio import STATS_RESET_EVERY, truncate_stats
from .graph.csr import block_of
from .lifecycle import free_local_checkpoint


@dataclass
class Superstep:
    """What one step returns: the lazily localCheckpointed next ``state``,
    the per-block ``stats`` rows of the action that materialized it (they
    become the lineage ``partitions``), the convergence ``value`` (a count
    that is 0 at the fixpoint, or an L1 delta compared with ``tol``) and
    ``extra`` values recorded in the manifest and the lineage entry."""

    state: DataFrame
    stats: list
    value: float
    extra: dict = field(default_factory=dict)


def block_stats(df: DataFrame, num_blocks: int, key: str = "id", **aggs) -> list:
    """The per-block metrics action: ``rows`` per block of ``key`` plus the
    named aggregate columns."""
    return (
        df.withColumn("block", block_of(F.col(key), num_blocks))
        .groupBy("block")
        .agg(F.count("*").alias("rows"), *(c.alias(n) for n, c in aggs.items()))
        .collect()
    )


def release(df: DataFrame) -> None:
    """Drop a state's cache and its localCheckpoint blocks."""
    df.unpersist()
    free_local_checkpoint(df)


def run(
    spark: SparkSession,
    state: DataFrame,
    step: Callable[[DataFrame, int], Superstep],
    *,
    algorithm: str,
    metric: str,
    max_iter: int,
    checkpoint_dir: str | None,
    run_id: str | None,
    params: dict | None = None,
    tol: float | None = None,
    on_resume: Callable[[dict], None] | None = None,
) -> tuple[DataFrame, list[dict], bool]:
    """Run ``step`` from ``state`` until it converges or ``max_iter``
    supersteps have run; return ``(state, lineage, converged)``.

    A superstep converged when its value is below ``tol``, or equals 0 when
    ``tol`` is None. Fresh lineage entries carry the value under ``metric``
    (``changed``, ``removed``, ...); entries replayed from a resumed run's
    manifests carry it as ``delta``. ``params`` are the call's
    result-affecting scalars: each is written to every manifest, and a
    resume whose value differs raises ``ValueError`` naming it.
    ``on_resume`` receives the manifest the run resumes from, before the
    first step runs.
    """
    recorded = {"algorithm": algorithm, **(params or {})}
    ckpt = None
    start = 0
    lineage: list[dict] = []
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(checkpoint_dir, run_id or uuid.uuid4().hex[:12])
        latest = ckpt.latest_complete()
        if latest is not None:
            state, manifest = ckpt.load(spark, latest)
            for key, value in recorded.items():
                if manifest.get(key) != value:
                    raise ValueError(
                        f"cannot resume run {ckpt.run_id!r}: {key}={value!r} "
                        f"differs from the checkpointed {key}={manifest.get(key)!r}"
                    )
            if on_resume is not None:
                on_resume(manifest)
            lineage = ckpt.lineage()
            if manifest.get("converged"):
                return state, lineage, True
            start = latest + 1
    state = state.persist()

    converged = False
    for k in range(start, max_iter):
        t0 = time.time()
        out = step(state, k)
        wall_ms = (time.time() - t0) * 1000
        converged = out.value < tol if tol is not None else out.value == 0
        meta = SuperstepCheckpoint(
            run_id=ckpt.run_id if ckpt else "in-memory",
            superstep=k,
            delta=float(out.value),
            converged=converged,
            wall_ms=wall_ms,
            partitions=[r.asDict() for r in out.stats],
            extra={**recorded, **out.extra},
        )
        old = state
        if ckpt is not None:
            state = ckpt.write(out.state, meta)  # parquet-backed copy
            free_local_checkpoint(out.state)
        elif not converged and (k + 1) % STATS_RESET_EVERY == 0:
            # bound the localCheckpoint-carried sizeInBytes digit growth
            # (see fsio.truncate_stats)
            state = truncate_stats(out.state, f"hipporag_{algorithm}_state_")
            free_local_checkpoint(out.state)
        else:
            state = out.state
        release(old)
        lineage.append(
            {"run_id": meta.run_id, "superstep": k, metric: out.value, **out.extra,
             "converged": converged, "wall_ms": wall_ms, "partitions": meta.partitions}
        )
        if converged:
            break
    return state, lineage, converged

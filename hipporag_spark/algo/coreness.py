"""Full core-number decomposition via distributed h-index iteration.

Not in the reference (igraph answers ``coreness`` single-node); completes
:mod:`.kcore` (fixed-k membership) to the FULL decomposition — every
vertex's core number in one job — using the h-operator convergence
theorem (Lü/Chen/Ren/Zhang/Zhou/Stanley 2016, "Vital nodes and the
h-index"): starting from c₀(v) = deg(v) and iterating

    c_{t+1}(v) = H({c_t(u) : u ∈ N(v)})

(H = the h-index: the largest h such that ≥ h neighbors have value ≥ h)
the values decrease monotonically to exactly the core numbers — no
global peel ordering needed, which is what makes coreness tractable as a
bulk-synchronous job: sequential Batagelj–Zaveršnik peeling is inherently
serial in k, while the h-operator is embarrassingly vertex-parallel per
round.

Scale shape per round: one equi-join of the (static, persisted,
dst-pre-partitioned) edge list against the V-row value table + one
per-src window (row_number over neighbor values desc — the h-index is
``max(min(rank, value))``) + one map-side-combinable max agg; all keyed
on vertex id. Integer-only, monotone → EXACT and identical at any
parallelism; convergence read from the same O(P) metrics action that
materializes the round. Rounds needed track the graph's core-hierarchy
depth (small on power-law graphs), and the monotone cap
``least(old, H)`` makes every round a no-op after fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def coreness(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame | None = None,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``core(id, coreness)``, lineage): the core number of every
    vertex. ``adj`` is the symmetric adjacency (one row per directed
    neighbor pair); vertices present only in ``vertex_ids`` (isolated)
    get coreness 0. Raises RuntimeError on iteration exhaustion (the
    scc.py lesson — never silently-partial output)."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    edges = (
        adj.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
        .repartition(F.col("dst"))
        .persist()
    )

    state = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("val")
    )
    if vertex_ids is not None:
        state = (
            vertex_ids.select("id")
            .join(state, "id", "left_outer")
            .select("id", F.coalesce(F.col("val"), F.lit(0).cast("long")).alias("val"))
        )

    def step(state: DataFrame, k: int) -> Superstep:
        nb = edges.join(
            state.select(F.col("id").alias("dst"), "val"), "dst"
        ).select(F.col("src").alias("id"), "val")
        w = Window.partitionBy("id").orderBy(F.col("val").desc())
        h = (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("val"))).alias("h"))
        )
        # the state carries this round's changed flag (like sssp's
        # `improved`), so the checkpoint is the frame the next round reads
        new_state = (
            state.join(h, "id", "left_outer")
            .select(
                "id",
                F.least(
                    F.col("val"), F.coalesce(F.col("h"), F.lit(0).cast("long"))
                ).alias("val"),
                (F.coalesce(F.col("h"), F.lit(0).cast("long")) < F.col("val"))
                .alias("changed_flag"),
            )
            .localCheckpoint(eager=False)
        )
        stats = block_stats(
            new_state, P, changed=F.sum(F.col("changed_flag").cast("long"))
        )
        return Superstep(new_state, stats, sum(r["changed"] for r in stats))

    state, lineage, converged = supersteps.run(
        spark, state, step,
        algorithm="coreness", metric="changed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
    )
    edges.unpersist()
    if not converged:
        supersteps.release(state)
        raise RuntimeError(
            f"coreness did not reach fixpoint within max_iter={max_iter} rounds"
        )
    return state.select("id", F.col("val").alias("coreness")), lineage

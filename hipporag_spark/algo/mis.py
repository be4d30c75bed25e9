"""Maximal independent set as an iterative DataFrame job.

Not in the reference (its igraph object answers independent sets
single-node, ``igraph.largest_independent_vertex_sets`` family); added on
the same edge-table infrastructure as the BASELINE.json algorithms
(components/labelprop/triangles) because MIS is the standard building
block for distributed graph coloring, scheduling and parallel contraction
at scale.

Algorithm: synchronous greedy-by-priority (the deterministic Luby
variant). Priority = the dense vertex id itself, so the result is the
LEXICOGRAPHICALLY-FIRST MIS — exactly what sequential greedy over ids
produces — and is identical at any parallelism (integer comparisons only,
no random bits, SURVEY.md §7.3). Each round, every active vertex whose id
is smaller than all of its ACTIVE neighbors' ids enters the set; its
active neighbors leave; fixpoint = empty active set.

Scale shape per round: two semi-joins of the (static, persisted) edge
list against the shrinking active set, one map-side-combinable
min-neighbor aggregate, one anti-join — all keyed on vertex id, so hub
skew spreads across partitions; no collect beyond the O(P) per-block
metrics action that doubles as the convergence check. Hubs resolve in
round 1 (a hub is either the local min or adjacent to one), so rounds
track the id-decreasing path structure, small on real graphs. Supersteps
checkpoint and resume through :mod:`..supersteps`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..graph.csr import block_of
from ..supersteps import Superstep

__all__ = ["maximal_independent_set"]


def maximal_independent_set(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame,
    max_iter: int = 200,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``mis(id, round)``, lineage): the members of the
    lexicographically-first maximal independent set and the superstep in
    which each entered (round is 0-based). ``adj`` is the symmetric
    adjacency (:func:`..graph.build.adjacency`). Vertices in
    ``vertex_ids`` with no edges are isolated and enter in round 0.

    Raises ``RuntimeError`` if ``max_iter`` rounds end with vertices still
    active (non-fixpoint exit would silently drop them from the set —
    same contract as scc.py's non-convergence guard).
    """
    P = num_blocks or spark.sparkContext.defaultParallelism
    edges = adj.select("src", "dst").persist()

    # one state frame holds both halves: members with the round they
    # entered (round >= 0) and the still-active frontier (round -1)
    def step(state: DataFrame, k: int) -> Superstep:
        active = state.filter(F.col("round") < 0).select("id")
        live = edges.join(active, edges.src == active.id, "left_semi").join(
            active, edges.dst == active.id, "left_semi"
        )
        minnbr = live.groupBy("src").agg(F.min("dst").alias("mn"))
        cand = (
            active.join(minnbr, active.id == minnbr.src, "left_outer")
            .filter(F.col("mn").isNull() | (F.col("id") < F.col("mn")))
            .select("id")
        )
        # active neighbors of this round's winners leave the frontier;
        # adjacency is symmetric, so one direction covers both sides
        out = (
            live.join(cand, live.src == cand.id, "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new_active = active.join(cand.unionByName(out).distinct(), "id", "left_anti")
        new_state = (
            state.filter(F.col("round") >= 0)
            .unionByName(cand.withColumn("round", F.lit(k).cast("int")))
            .unionByName(new_active.withColumn("round", F.lit(-1).cast("int")))
            .localCheckpoint(eager=False)
        )
        # metrics + convergence in the SAME action that materializes the
        # lazy checkpoint (one Spark action per round, like kcore.py)
        stats = (
            new_state.withColumn("block", block_of(F.col("id"), P))
            .groupBy("block")
            .agg(
                F.sum((F.col("round") >= 0).cast("long")).alias("rows"),
                F.sum((F.col("round") < 0).cast("long")).alias("active"),
            )
            .collect()
        )
        return Superstep(new_state, stats, sum(r["active"] for r in stats))

    init = vertex_ids.select("id").distinct().select(
        "id", F.lit(-1).cast("int").alias("round")
    )
    state, lineage, converged = supersteps.run(
        spark, init, step,
        algorithm="maximal_independent_set", metric="remaining", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
    )
    edges.unpersist()
    if not converged:
        supersteps.release(state)
        raise RuntimeError(
            f"maximal_independent_set did not reach a fixpoint in {max_iter} "
            "rounds; result would be missing still-active vertices"
        )
    return state.filter(F.col("round") >= 0).select("id", "round"), lineage

"""k-core decomposition (fixed-k membership) as an iterative DataFrame job.

Not in the reference (its igraph object answers coreness single-node,
``igraph.coreness``); added on the same edge-table infrastructure as the
BASELINE.json algorithms (components/labelprop/triangles) because core
extraction is the standard graph-cleanup step before community/centrality
work at scale.

Algorithm: synchronous peeling. active₀ = all vertices; each round keeps
the subgraph induced by the active set and drops vertices whose induced
degree < k; fixpoint = the k-core (Matula–Beck / Batagelj–Zaveršnik
peeling, bulk-synchronous form). Integer-only updates → EXACT and
identical at any parallelism (no float ties, SURVEY.md §7.3).

Scale shape per round: two semi-joins of the (static, persisted) edge
list against the shrinking active set + one map-side-combinable degree
count — all keyed on vertex id, so hub skew spreads across partitions;
no collect beyond the O(P) per-block metrics action that doubles as the
convergence check. Rounds = peeling depth, which on power-law graphs is
tiny (the periphery sheds in the first 2–3 rounds). Supersteps checkpoint
and resume through :mod:`..supersteps`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def k_core(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame,
    k: int = 3,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``core(id, core_degree)``, lineage): the vertices of the
    k-core (maximal induced subgraph with all degrees ≥ k) and their
    degree inside it. ``adj`` is the symmetric adjacency
    (:func:`..graph.build.adjacency`); one row per directed neighbor
    pair, so ``count(*)`` per src is the distinct-neighbor degree."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    edges = adj.select("src", "dst").persist()

    def step(active: DataFrame, _: int) -> Superstep:
        live = edges.join(active, edges.src == active.id, "left_semi").join(
            active, edges.dst == active.id, "left_semi"
        )
        deg = live.groupBy("src").agg(F.count("*").alias("deg"))
        new_active = (
            deg.filter(F.col("deg") >= k).select(F.col("src").alias("id"))
        ).localCheckpoint(eager=False)

        # metrics + convergence in the SAME action that materializes the
        # lazy checkpoint (one Spark action per round, like components.py)
        stats = block_stats(
            active.join(new_active.withColumn("keep", F.lit(1)), "id", "left_outer"),
            P,
            removed=F.sum(F.col("keep").isNull().cast("long")),
        )
        return Superstep(new_active, stats, sum(r["removed"] for r in stats))

    active, lineage, _ = supersteps.run(
        spark, vertex_ids.select("id"), step,
        algorithm="k_core", metric="removed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id, params={"k": k},
    )
    core = _core_degrees(edges, active)
    edges.unpersist()
    return core, lineage


def _core_degrees(edges: DataFrame, active: DataFrame) -> DataFrame:
    """Induced-subgraph degrees of the final active set."""
    live = edges.join(active, edges.src == active.id, "left_semi").join(
        active, edges.dst == active.id, "left_semi"
    )
    return live.groupBy("src").agg(F.count("*").alias("core_degree")).select(
        F.col("src").alias("id"), "core_degree"
    )

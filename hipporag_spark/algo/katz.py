"""Katz centrality as an iterative DataFrame job.

Not in the reference (igraph would expose it single-node; cf.
``SimpleGraph.kt``'s PPR being the only centrality the reference computes
— HippoRAG.py:889-905); same from-scratch distributed treatment as the
rest of the link-graph family (:mod:`.components`, :mod:`.hits`). Katz
completes the attenuation-based centralities: unlike PageRank it does not
normalize by out-degree, so prolific linkers confer full weight along
every edge — the standard "influence through all paths, damped by length"
score:

    x(v) ← β + α · Σ_{u→v} w(u,v) · x(u),      x₀(v) = β

which at convergence is x = β·(I − αAᵀ)⁻¹·1 (converges for
α < 1/λ_max(A); the fixed-round form the driver oracle replays is the
truncated path series Σ_k (αAᵀ)^k β·1 — deterministic at any
parallelism up to float associativity, compared at 6 dp).

Physical plan per superstep (identical discipline to
:mod:`.labelprop`):

- the O(E) directed edge table is pre-partitioned on ``src`` ONCE and
  cached — per-superstep joins re-exchange only the O(V) state;
- contribution sum is a two-phase (map-side combinable) ``groupBy(dst)``
  aggregate;
- EXACTLY ONE Spark action per superstep: the per-block stats collect
  (L1 delta) that also materializes the lazily local-checkpointed new
  state;
- :mod:`..supersteps` runs the loop: ``truncate_stats`` every
  :data:`~..fsio.STATS_RESET_EVERY` rounds bounds Catalyst's
  localCheckpoint-carried sizeInBytes growth, and supersteps checkpoint
  so a killed job resumes mid-iteration.

``tol=0.0`` forces exactly ``max_iter`` rounds (what the unrolled-CTE
driver oracle needs — same technique as ``hits``/``ppr_docs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    vertex_ids: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 50,
    tol: float = 1e-8,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``scores(id, katz)``, lineage) over the DIRECTED weighted
    edge table ``edges(src, dst, weight)`` (parallel edges summed here).
    ``vertex_ids`` fixes the vertex set: a vertex with no in-edges scores
    exactly ``beta``. Converged when the L1 step delta < ``tol``."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    adj = (
        edges.groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .repartition(F.col("src"))
        .persist()
    )

    def step(state: DataFrame, k: int) -> Superstep:
        contrib = (
            adj.join(state, adj.src == state.id)
            .groupBy("dst")
            .agg(F.sum(F.col("weight") * F.col("katz")).alias("insum"))
            .withColumnRenamed("dst", "id")
        )
        new_state = (
            state.select("id")
            .join(contrib, "id", "left_outer")
            .select(
                "id",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce(F.col("insum"), F.lit(0.0))
                ).alias("katz"),
            )
            # lazy checkpoint + metrics in the SAME action (one Spark
            # action per superstep; see components.py)
            .localCheckpoint(eager=False)
        )
        stats = block_stats(
            state.select("id", F.col("katz").alias("old"))
            .join(new_state.select("id", F.col("katz").alias("new")), "id"),
            P,
            delta=F.sum(F.abs(F.col("new") - F.col("old"))),
        )
        return Superstep(new_state, stats, float(sum(r["delta"] for r in stats)))

    state, lineage, _ = supersteps.run(
        spark, vertex_ids.select("id", F.lit(float(beta)).alias("katz")), step,
        algorithm="katz", metric="delta", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
        params={"alpha": alpha, "beta": beta, "tol": tol}, tol=tol,
    )
    adj.unpersist()
    return state, lineage

"""Connected components as an iterative DataFrame job (exact).

Not in the reference (BASELINE.json adds it; the reference's igraph object
could answer it trivially single-node). Algorithm: deterministic min-label
propagation — ``label(v) ← min(label(v), min_{u~v} label(u))``, init
``label(v)=v`` — integer-only updates, so results are EXACT and identical
at any parallelism (no float ties; SURVEY.md §7.3).

Each superstep is one join + one min-aggregate; converged when zero labels
changed (the change-count is the same single action that yields per-block
metrics). Supersteps checkpoint and resume through :mod:`..supersteps`.
Plain min-propagation needs O(diameter) rounds; linkgraph/social graphs
have tiny diameters, and the passage↔entity bipartite KG here has
diameter ≤ ~2·(chunk chain length). For adversarial long-chain inputs,
``pointer_jump=True`` adds a label-shortcutting round
(``label ← label(label)``) that halves path lengths (Stergiou-style
shortcutting), giving O(log d) convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def connected_components(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    pointer_jump: bool = True,
) -> tuple[DataFrame, list[dict]]:
    """Return (``components(id, component)``, lineage). component = min
    vertex id reachable, i.e. a canonical deterministic component id."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    # pre-partition on the probe key so the O(E) side is NEVER
    # re-exchanged per superstep (only the O(V) label side shuffles; the
    # cached outputPartitioning satisfies the join requirement at any
    # scale where the state no longer broadcasts)
    edges = adj.select("src", "dst").repartition(F.col("src")).persist()

    def step(labels: DataFrame, k: int) -> Superstep:
        # neighbor-min: adj join labels on src, min per dst
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("nbr"))
            .withColumnRenamed("dst", "id")
        )
        new_labels = (
            labels.join(nbr_min, "id", "left_outer")
            .select("id", F.least(F.col("component"), F.coalesce(F.col("nbr"), F.col("component"))).alias("component"))
        )
        if pointer_jump:
            # shortcut: component ← component(component)
            parent = new_labels.select(
                F.col("id").alias("pid"), F.col("component").alias("pcomp")
            )
            new_labels = (
                new_labels.join(parent, new_labels.component == parent.pid, "left_outer")
                .select("id", F.coalesce(F.col("pcomp"), F.col("component")).alias("component"))
            )
        # lazy checkpoint + metrics in the SAME action: the stats collect
        # materializes the checkpoint blocks, so a superstep is exactly one
        # Spark action (the eager-checkpoint + separate-metrics version ran
        # two, re-executing the plan)
        new_labels = new_labels.localCheckpoint(eager=False)
        stats = block_stats(
            labels.select("id", F.col("component").alias("old"))
            .join(new_labels.select("id", F.col("component").alias("new")), "id"),
            P,
            changed=F.sum((F.col("old") != F.col("new")).cast("long")),
        )
        return Superstep(new_labels, stats, sum(r["changed"] for r in stats))

    labels, lineage, _ = supersteps.run(
        spark, vertex_ids.select("id", F.col("id").alias("component")), step,
        algorithm="connected_components", metric="changed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
        params={"pointer_jump": pointer_jump},
    )
    edges.unpersist()
    return labels, lineage
